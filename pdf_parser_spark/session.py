"""SparkSession factory: one recipe of engine defaults, each applied only
where the launcher left the key unset.

``spark-submit --master/--conf`` therefore win over every default below.
In a plain ``python`` launch, ``SPARK_GRAFT_CPUS=N`` picks ``local[N]``;
with neither, the master is ``local[*]``. The driver's heap is fixed when
its JVM starts, so the recipe's ``spark.driver.memory`` applies only to a
launch whose JVM ``get_spark`` starts itself (a plain ``python`` launch);
under spark-submit that is ``--driver-memory``'s job. A live session is
returned as it is: callers that need a fixed runtime value (tests, plan
dumps, scaling runs) set it on the built session with ``spark.conf.set``,
and a later ``get_spark`` keeps it. A launch whose JVM ``get_spark``
starts itself, at a ``local[...]`` master, also gets the recipe's local
file system, ``NioLocalFileSystem`` (``fs_jar``): Hadoop's checksummed one
with each new file's and directory's mode set in the JVM, not by a forked
``chmod``; with no ``javac``, Hadoop's own class stays.

The defaults are chosen for the 100 TB design point and merely *work* on
one machine (SURVEY.md §4). The recipe holds only values that differ from
Spark's own defaults. The engine also relies on two Spark defaults that it
does not restate: AQE on (runtime shuffle coalescing + skew-join
splitting) and python worker reuse (the UDF stages are called per batch,
fork cost must amortize). Every partitioned write sets its own overwrite
mode (``TableIO.overwrite_partitions`` dynamic, ``crud.truncate``
static), so no session-wide ``partitionOverwriteMode`` is needed. The
recipe:

- Arrow on + BYTE-capped record batches: pages are MB-scale fat rows;
  round 1 fixed the batch at 8 ROWS to keep JVM-side ArrowWriter
  vectors small enough to dodge humongous-allocation GC churn (measured:
  batch=8 was 2x faster than batch=64 at local[32] on the mixed
  corpus). Spark 4's arrow.maxBytesPerBatch expresses that constraint
  directly: fat rows still get few-row batches (16 MB cap ~ the old
  8x2MB), while slim rows (embeddings, fingerprints, media features)
  batch thousands at a time instead of paying a Python round-trip every
  8 rows. Verified: 64 KB rows -> 4-row batches under a 256 KB cap,
  3-byte rows -> one batch per partition;
- shuffle partitions: the extract job's ``repartition(part_id)`` starts from
  them and AQE coalesces by bytes.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile

from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 2048
ARROW_BATCH_BYTES = 16 * 1024 * 1024
PKG_ROOT = os.path.dirname(os.path.abspath(__file__))
FS_SOURCE = os.path.join(PKG_ROOT, "jvm", "NioLocalFileSystem.java")

ENGINE_DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    "spark.sql.execution.arrow.maxBytesPerBatch": str(ARROW_BATCH_BYTES),
    "spark.sql.session.timeZone": "UTC",
    # fat binary rows: keep scan partitions small enough to fit
    "spark.sql.files.maxPartitionBytes": "64m",
}
DRIVER_MEMORY = "8g"


def tune_for_fat_binary_scan(spark: SparkSession) -> None:
    """Session settings for reading tables with MB-scale binary columns
    (the crawl input table). The parquet vectorized reader sizes its
    column batches in ROWS (default 4096) — with ~1-3 MB ``html`` values
    that is multi-GB of contiguous vector per task, which OOMs or
    GC-thrashes a 32-task executor. 32-row reader batches cap per-task
    scan memory at ~100 MB. Thin relational tables keep the default
    (a 32-row batch costs ~3x on pure-scan throughput there)."""
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "32")


def get_spark(app_name: str = "pdf-parser-spark") -> SparkSession:
    live = SparkSession.getActiveSession()
    if live is not None:
        ship_package(live)
        return live
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # under spark-submit its settings live in the JVM it started;
        # SparkConf() sees them only once connected to that gateway. A
        # plain python launch must not start the JVM here: it would start
        # before spark.driver.memory applies
        SparkContext._ensure_initialized()  # noqa: SLF001
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    recipe = {
        "spark.app.name": app_name,
        "spark.master": f"local[{cpus}]" if cpus else "local[*]",
        **ENGINE_DEFAULTS,
    }
    if SparkContext._gateway is None:  # noqa: SLF001
        # the JVM starts below, so its heap and class path can still be set
        recipe["spark.driver.memory"] = DRIVER_MEMORY
        jar = recipe["spark.master"].startswith("local[") and fs_jar()
        if jar:  # local mode: the executors share the driver's class path
            recipe["spark.driver.extraClassPath"] = jar
            recipe["spark.hadoop.fs.file.impl"] = "pdf_parser_spark.NioLocalFileSystem"
    conf = SparkConf()
    for key, value in recipe.items():
        conf.setIfMissing(key, value)
    spark = SparkSession.builder.config(conf=conf).getOrCreate()
    ship_package(spark)
    return spark


def package_zip(pkg_root: str = PKG_ROOT) -> str:
    """Zip the package's ``.py`` sources into the temp dir and return the
    zip's path. The file is named by the sha256 of the sources (relative
    paths and bytes), so a changed byte gives a new file and stale code is
    never shipped; the same sources reuse the existing zip. A fresh zip is
    written under a temp name and ``os.replace``d, so concurrent builders
    never see a partial file. A tree with no ``.py`` sources (say, a
    package imported from a zip) is refused: its zip would ship nothing."""
    base = os.path.dirname(pkg_root)
    sources = []
    for dirpath, dirnames, files in os.walk(pkg_root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    sources.append((os.path.relpath(full, base), f.read()))
    if not sources:
        raise FileNotFoundError(f"no .py sources under {pkg_root}")
    h = hashlib.sha256()
    for rel, data in sources:
        h.update(rel.encode() + b"\0" + data + b"\0")
    name = f"{os.path.basename(pkg_root)}-{h.hexdigest()}.zip"
    path = os.path.join(tempfile.gettempdir(), name)
    if not os.path.exists(path):
        fd, tmp = tempfile.mkstemp(prefix=name, suffix=".tmp")
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
            for rel, data in sources:
                info = zipfile.ZipInfo(rel)  # fixed timestamp
                info.external_attr = 0o644 << 16
                z.writestr(info, data, zipfile.ZIP_DEFLATED)
        os.replace(tmp, path)
    return path


def fs_jar() -> str | None:
    """``FS_SOURCE`` compiled into a jar in the temp dir, named by the
    source's sha256 and reused like ``package_zip``'s zip; ``None`` with no
    source, no ``javac`` beside the launcher's ``java``, or a failed compile."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    javac = java and os.path.join(os.path.dirname(os.path.realpath(java)), "javac")
    if not (javac and os.access(javac, os.X_OK) and os.path.isfile(FS_SOURCE)):
        return None
    with open(FS_SOURCE, "rb") as f:
        name = f"NioLocalFileSystem-{hashlib.sha256(f.read()).hexdigest()}.jar"
    path = os.path.join(tempfile.gettempdir(), name)
    if not os.path.exists(path):
        api = os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")
        with tempfile.TemporaryDirectory() as out:
            # --release 17, Spark 4's floor: any JDK's build loads on any runtime
            cmd = [javac, "-J-XX:TieredStopAtLevel=1", "-J-XX:+UseSerialGC",
                   "--release", "17", "-proc:none",
                   "-cp", os.pathsep.join(glob.glob(api)), "-d", out, FS_SOURCE]
            if subprocess.run(cmd, capture_output=True).returncode:
                return None
            os.replace(shutil.make_archive(out, "zip", out), path)
    return path


def ship_package(spark: SparkSession) -> None:
    """Make pdf_parser_spark importable on executor python workers
    regardless of the launch cwd: addPyFile the package zip once per
    SparkContext. Workers only inherit the driver's CWD (not its
    sys.path), so running any entry point from outside the repo root
    would otherwise fail to unpickle mapInPandas closures. A package
    imported from a zip (``spark-submit --py-files``) is not on disk, and
    the executors already have that zip: nothing to ship."""
    sc = spark.sparkContext
    if getattr(sc, "_pps_pkg_added", False) or not os.path.isdir(PKG_ROOT):
        return
    sc.addPyFile(package_zip())
    sc._pps_pkg_added = True  # noqa: SLF001
