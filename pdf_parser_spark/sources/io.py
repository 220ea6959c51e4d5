"""Table IO facade (SURVEY.md §1.2 storage note).

The north rule targets Iceberg tables; this sandbox has no Iceberg jars
(verified, SURVEY.md §7.0), so the facade detects whether an Iceberg
catalog is configured and otherwise uses plain parquet with IDENTICAL
schemas and dynamic-partition-overwrite semantics (the parquet stand-in
for Iceberg's atomic partition replace). Job code only ever touches this
facade, so pointing a real cluster at Iceberg is a config change, not a
code change.

Executing the Iceberg branch against a real catalog is IMPOSSIBLE in
this sandbox — settled after three rounds of trying: no
iceberg-spark-runtime jar anywhere on disk (`find / -name '*iceberg*'`
returns only pytest tmpdirs) and no network to fetch one
(repo1.maven.org does not resolve — "Name or service not known"). What
IS verified instead: (a) both dispatch branches route the right calls
with the right arguments (tests/test_io_dispatch.py, including a
recording writeTo stub asserting the ``overwritePartitions`` call
chain), and (b) the parquet branch's dynamic partition overwrite
reproduces Iceberg's replace-exactly-the-written-partitions semantics
on real data (test_iceberg_overwrite_partitions_semantics runs the
SAME scenario through both a semantic stub and the parquet path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _iceberg_available(spark: SparkSession) -> bool:
    """Whether an Iceberg catalog is configured, probed once per
    SparkContext: its jars and its catalog conf are fixed at launch."""
    sc = spark.sparkContext
    if not hasattr(sc, "_pps_iceberg"):
        try:
            cls = "org.apache.iceberg.spark.SparkCatalog"
            sc._jvm.java.lang.Class.forName(cls)  # noqa: SLF001
            sc._pps_iceberg = any(  # noqa: SLF001
                k.startswith("spark.sql.catalog.")
                and v.endswith("SparkCatalog")
                for k, v in sc.getConf().getAll()
            )
        except Exception:
            sc._pps_iceberg = False  # noqa: SLF001
    return sc._pps_iceberg  # noqa: SLF001


class TableIO:
    """read/write/overwrite-partitions against Iceberg tables or a
    parquet directory tree, behind one interface."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.iceberg = _iceberg_available(spark)

    def _path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def _fs(self, path: str):
        """The Hadoop FileSystem and Path of ``path`` (any scheme the
        cluster can reach, not just file://)."""
        sc = self.spark.sparkContext
        hpath = sc._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
        return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath  # noqa: SLF001

    def exists(self, name: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(self._path(name))
        fs, hpath = self._fs(self._path(name))
        return fs.exists(hpath)

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """The whole table. A parquet table read with its declared
        ``schema`` skips the schema-inference job; an Iceberg table
        carries its own."""
        if self.iceberg:
            return self.spark.read.table(self._path(name))
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(name))

    def read_partitions(self, name: str, schema: StructType, col: str,
                        values: list[int]) -> DataFrame:
        """The rows of ``name`` whose partition column ``col`` is in
        ``values``. Iceberg filters the table on ``col``. Parquet reads
        only the ``col=<v>`` directories, as one glob under ``basePath``
        with the declared ``schema``: no other partition directory is
        listed, and a value with no committed rows (no directory) reads as
        no rows. The driver lists them itself, however many there are: the
        DataFrame lists eagerly when it is created, and while it is the
        parallel-discovery threshold is raised to the directory count, so
        no Spark listing job runs."""
        if self.iceberg:
            return self.spark.read.table(self._path(name)).filter(
                F.col(col).isin(values))
        root = self._path(name)
        # the values' directories, globbed once on the driver
        glob = f"{root}/{col}={{{','.join(map(str, values))}}}"
        fs, hglob = self._fs(glob)
        n_dirs = len(fs.globStatus(hglob))
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        threshold = self.spark.conf.get(key)
        self.spark.conf.set(key, str(max(int(threshold), n_dirs)))
        try:
            return (
                self.spark.read.schema(schema).option("basePath", root)
                .parquet(*([glob] if n_dirs else []))
            )
        finally:
            self.spark.conf.set(key, threshold)

    def append(self, df: DataFrame, name: str) -> None:
        if self.iceberg:
            df.writeTo(self._path(name)).append()
        else:
            df.write.mode("append").parquet(self._path(name))

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_col: str
    ) -> None:
        """Replace exactly the partitions present in ``df`` — Iceberg's
        dynamic overwrite, or parquet dynamic partitionOverwriteMode.
        This is what makes resume idempotent: a half-written partition
        from a killed run is fully replaced on re-run, never duplicated.

        The overwrite mode is set PER WRITE (not relied on from session
        config): with an externally created SparkSession the session
        default is ``static``, under which this write would delete every
        already-committed partition — silent data loss on resume."""
        if self.iceberg:
            df.writeTo(self._path(name)).overwritePartitions()
        else:
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(self._path(name))
            )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    sorted_by: str | None = None,
    path: str | None = None,
) -> None:
    """Bucketed table write: rows are hash-partitioned on ``bucket_col``
    into ``n_buckets`` files per partition AND the layout is recorded in
    the catalog, so every subsequent equi-join or aggregation on that
    key reads co-located data and skips its Exchange entirely.

    This is the 100 TB co-location move: shuffle the big fact tables
    ONCE at write time (documents and every doc_id-keyed derivative on
    the same bucket spec), then the daily join/agg workload runs
    shuffle-free on the hot key. Pick n_buckets ~ table_size /
    target_partition_size (128-512 MB); both join sides must share the
    bucket count for the exchange-free plan. ``sorted_by`` additionally
    orders within buckets so sort-merge joins skip their sorts.

    Iceberg note: on an Iceberg catalog the same layout is a
    bucket(n, col) partition transform; this helper targets the session
    catalog (parquet tables), which local mode supports out of the box."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sorted_by is not None:
        w = w.sortBy(sorted_by)
    if path is not None:
        # external bucketed table: data lands at ``path`` instead of
        # the managed warehouse (which sits under the session CWD in
        # local mode — not necessarily writable for every caller)
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)
