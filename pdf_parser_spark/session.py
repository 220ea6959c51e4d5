"""SparkSession factory with the engine's scale-oriented defaults.

Every knob is chosen for the 100 TB design point and merely *works* at
local[32] (SURVEY.md §4):

- AQE on: runtime shuffle coalescing + skew-join splitting;
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
- python worker reuse: the UDF stages are called per batch, fork cost
  must amortize;
- shuffle partitions: the extract job's ``repartition(part_id)`` starts from
  them and AQE coalesces by bytes; --conf overrides (jobs/extract.py).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 2048
ARROW_BATCH_BYTES = 16 * 1024 * 1024
PKG_ROOT = os.path.dirname(os.path.abspath(__file__))


def tune_for_fat_binary_scan(spark: SparkSession) -> None:
    """Session settings for reading tables with MB-scale binary columns
    (the crawl input table). The parquet vectorized reader sizes its
    column batches in ROWS (default 4096) — with ~1-3 MB ``html`` values
    that is multi-GB of contiguous vector per task, which OOMs or
    GC-thrashes a 32-task executor. 32-row reader batches cap per-task
    scan memory at ~100 MB. Thin relational tables keep the default
    (a 32-row batch costs ~3x on pure-scan throughput there)."""
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "32")


def get_spark(
    app_name: str = "pdf-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[32]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master.startswith("local"):
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(ARROW_BATCH_BYTES),
        )
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # fat binary rows: keep scan partitions small enough to fit
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = b.getOrCreate()
    ship_package(spark)
    return spark


def package_zip(pkg_root: str = PKG_ROOT) -> str:
    """Zip the package's ``.py`` sources into the temp dir and return the
    zip's path. The file is named by the sha256 of the sources (relative
    paths and bytes), so a changed byte gives a new file and stale code is
    never shipped; the same sources reuse the existing zip. A fresh zip is
    written under a temp name and ``os.replace``d, so concurrent builders
    never see a partial file."""
    base = os.path.dirname(pkg_root)
    sources = []
    for dirpath, dirnames, files in os.walk(pkg_root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    sources.append((os.path.relpath(full, base), f.read()))
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


def ship_package(spark: SparkSession) -> None:
    """Make pdf_parser_spark importable on executor python workers
    regardless of the launch cwd: addPyFile the package zip once per
    SparkContext. Workers only inherit the driver's CWD (not its
    sys.path), so running any entry point from outside the repo root
    would otherwise fail to unpickle mapInPandas closures."""
    sc = spark.sparkContext
    if getattr(sc, "_pps_pkg_added", False):
        return
    sc.addPyFile(package_zip())
    sc._pps_pkg_added = True  # noqa: SLF001
