"""``session.get_spark`` on a live session: the session comes back as it
is, with the runtime values set on it, and the package is shipped once.
A plain launch's local file system sets modes in the JVM, to exactly the
values Hadoop's own class would set."""

import os
import stat
import subprocess

from pdf_parser_spark import session


def test_get_spark_keeps_the_live_session(spark):
    sc = spark.sparkContext
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        again = session.get_spark(app_name="another-app")
        assert again.sparkContext is sc
        assert again.conf.get(key) == "7"
        assert sc.appName == "pdf-parser-spark-tests"
    finally:
        spark.conf.set(key, before)
    zip_name = os.path.basename(session.package_zip())
    assert sc._python_includes.count(zip_name) == 1  # noqa: SLF001


def test_plain_launch_sizes_the_driver_heap(spark):
    # this session's JVM was started by get_spark itself (conftest)
    assert spark.sparkContext.getConf().get("spark.driver.memory") == session.DRIVER_MEMORY


def _hadoop(spark):
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    return jvm.org.apache.hadoop.fs, conf


def test_plain_launch_sets_local_modes_in_process(spark):
    fs_pkg, conf = _hadoop(spark)
    assert (
        fs_pkg.FileSystem.getLocal(conf).getClass().getName()
        == "pdf_parser_spark.NioLocalFileSystem"
    )


def test_partitioned_write_keeps_hadoops_modes(spark, tmp_path):
    from pdf_parser_spark.sources import TableIO

    fs_pkg, conf = _hadoop(spark)
    perm = fs_pkg.permission.FsPermission
    umask = perm.getUMask(conf)
    file_mode = perm.getFileDefault().applyUMask(umask).toShort()
    dir_mode = perm.getDirDefault().applyUMask(umask).toShort()

    df = spark.range(30).selectExpr("id", "CAST(id % 3 AS INT) AS part_id")
    TableIO(spark, str(tmp_path)).overwrite_partitions(df, "t", "part_id")
    table = tmp_path / "t"
    dirs = sorted(p.name for p in table.iterdir() if p.is_dir())
    assert dirs == ["part_id=0", "part_id=1", "part_id=2"]
    data = list(table.glob("part_id=*/*.parquet"))
    crcs = list(table.glob("part_id=*/.*.parquet.crc"))
    assert data and len(crcs) == len(data)
    for p in [*data, *crcs]:
        assert stat.S_IMODE(os.stat(p).st_mode) == file_mode, p
    for p in [table, *(table / d for d in dirs)]:
        assert stat.S_IMODE(os.stat(p).st_mode) == dir_mode, p


def test_set_permission_lands_exactly(spark, tmp_path):
    # the mode that Hadoop's own class sets, through `chmod %04o`, on a twin
    fs_pkg, conf = _hadoop(spark)
    fs = fs_pkg.FileSystem.getLocal(conf)
    cases = [(m, k, 0) for m in (0o751, 0o600, 0o1777) for k in ("file", "dir")]
    cases.append((0o755, "dir", 0o2775))  # setgid dir: chmod keeps the bit
    for mode, kind, start in cases:
        got, want = (tmp_path / f"{kind}-{mode:o}-{start:o}-{t}" for t in "gw")
        for p in (got, want):
            if kind == "file":
                p.write_text("x")
            else:
                p.mkdir()
            if start:
                os.chmod(p, start)
        fs.setPermission(fs_pkg.Path(str(got)), fs_pkg.permission.FsPermission(mode))
        subprocess.run(["chmod", f"{mode:04o}", str(want)], check=True)
        assert stat.S_IMODE(os.stat(got).st_mode) == stat.S_IMODE(os.stat(want).st_mode)
        if not start:
            assert stat.S_IMODE(os.stat(got).st_mode) == mode, got
