"""TableIO facade dispatch (sources/io.py): the sandbox has no Iceberg
jars, so the Iceberg branch is exercised against a stub catalog — the
point is that every method routes through writeTo/overwritePartitions/
read.table when a catalog is present, and through parquet when not."""

from pdf_parser_spark.sources import io as tio


class _FakeWriteTo:
    def __init__(self, calls, name):
        self.calls = calls
        self.name = name

    def append(self):
        self.calls.append(("append", self.name))

    def overwritePartitions(self):
        self.calls.append(("overwritePartitions", self.name))


class _FakeDF:
    def __init__(self, calls):
        self.calls = calls

    def writeTo(self, name):
        return _FakeWriteTo(self.calls, name)


class _FakeSpark:
    def __init__(self, calls):
        self.calls = calls
        outer = self

        class _Catalog:
            def tableExists(self, name):
                outer.calls.append(("tableExists", name))
                return True

        class _Read:
            def table(self, name):
                outer.calls.append(("read.table", name))
                return f"df:{name}"

        self.catalog = _Catalog()
        self.read = _Read()


def test_iceberg_branch_dispatch(monkeypatch):
    calls = []
    monkeypatch.setattr(tio, "_iceberg_available", lambda spark: True)
    t = tio.TableIO(_FakeSpark(calls), "cat.db")
    assert t.iceberg is True

    assert t.exists("extracted") is True
    assert t.read("extracted") == "df:cat.db/extracted"
    df = _FakeDF(calls)
    t.append(df, "lineage")
    t.overwrite_partitions(df, "extracted", "part_id")
    assert calls == [
        ("tableExists", "cat.db/extracted"),
        ("read.table", "cat.db/extracted"),
        ("append", "cat.db/lineage"),
        ("overwritePartitions", "cat.db/extracted"),
    ]


class _FilterRecordingDF:
    def __init__(self, calls, name):
        self.calls = calls
        self.name = name

    def filter(self, cond):
        self.calls.append(("filter", self.name, str(cond)))
        return self


def test_iceberg_partition_read_filters(monkeypatch, spark):
    """On Iceberg a partition read is a filter on the partition column
    (the catalog prunes); there are no directories to pick."""
    calls = []
    monkeypatch.setattr(tio, "_iceberg_available", lambda spark: True)
    fake = _FakeSpark(calls)
    fake.read.table = lambda name: _FilterRecordingDF(calls, name)
    t = tio.TableIO(fake, "cat.db")
    t.read_partitions("extracted", None, "part_id", [1, 3])
    ((op, name, cond),) = calls
    assert (op, name) == ("filter", "cat.db/extracted")
    assert "part_id" in cond and "IN" in cond.upper()


class _SemanticTable:
    """Behavioral stand-in for an Iceberg table partitioned on one
    column: append adds rows; overwritePartitions replaces EXACTLY the
    partitions present in the incoming rows (Iceberg's dynamic
    overwrite), leaving others untouched."""

    def __init__(self, partition_col):
        self.partition_col = partition_col
        self.parts: dict = {}

    def append_rows(self, rows):
        for r in rows:
            self.parts.setdefault(r[self.partition_col], []).append(dict(r))

    def overwrite_rows(self, rows):
        incoming: dict = {}
        for r in rows:
            incoming.setdefault(r[self.partition_col], []).append(dict(r))
        self.parts.update(incoming)


class _SemanticDF:
    def __init__(self, rows, tables):
        self.rows = rows
        self.tables = tables

    def writeTo(self, name):
        df = self

        class _W:
            def append(self):
                df.tables[name].append_rows(df.rows)

            def overwritePartitions(self):
                df.tables[name].overwrite_rows(df.rows)

        return _W()


def test_iceberg_overwrite_partitions_semantics(monkeypatch, spark, tmp_path):
    """The two branches must agree on END STATE, not just dispatch: for
    the same append + partial-overwrite sequence, the mock-Iceberg
    dynamic overwrite and the parquet dynamic partitionOverwriteMode
    leave identical tables (this is the resume-idempotency contract)."""
    # -- mock-Iceberg branch
    tables = {"cat.db/extracted": _SemanticTable("part_id")}
    monkeypatch.setattr(tio, "_iceberg_available", lambda s: True)
    ti = tio.TableIO(_FakeSpark([]), "cat.db")
    rows1 = [
        {"id": 1, "v": "a", "part_id": 0},
        {"id": 2, "v": "b", "part_id": 1},
    ]
    rows2 = [{"id": 3, "v": "c", "part_id": 1}]
    ti.overwrite_partitions(
        _SemanticDF(rows1, tables), "extracted", "part_id"
    )
    ti.overwrite_partitions(
        _SemanticDF(rows2, tables), "extracted", "part_id"
    )
    iceberg_state = sorted(
        (r["id"], r["part_id"])
        for part in tables["cat.db/extracted"].parts.values()
        for r in part
    )

    # -- parquet branch, same sequence
    monkeypatch.setattr(tio, "_iceberg_available", lambda s: False)
    tp = tio.TableIO(spark, str(tmp_path / "t"))
    tp.overwrite_partitions(
        spark.createDataFrame([(1, "a", 0), (2, "b", 1)],
                              ["id", "v", "part_id"]),
        "extracted", "part_id",
    )
    tp.overwrite_partitions(
        spark.createDataFrame([(3, "c", 1)], ["id", "v", "part_id"]),
        "extracted", "part_id",
    )
    parquet_state = sorted(
        (r.id, r.part_id) for r in tp.read("extracted").collect()
    )
    assert iceberg_state == parquet_state == [(1, 0), (3, 1)]


def test_parquet_branch_roundtrip(spark, tmp_path):
    """Without a catalog the facade must fall back to parquet with
    dynamic partition overwrite (resume idempotency)."""
    root = str(tmp_path / "tables")
    t = tio.TableIO(spark, root)
    assert t.iceberg is False
    assert not t.exists("extracted")

    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], ["id", "v", "part_id"]
    )
    t.overwrite_partitions(df, "extracted", "part_id")
    assert t.exists("extracted")
    assert t.read("extracted").count() == 2

    # dynamic overwrite: rewriting ONLY part 1 must keep part 0 intact
    df2 = spark.createDataFrame([(3, "c", 1)], ["id", "v", "part_id"])
    t.overwrite_partitions(df2, "extracted", "part_id")
    got = sorted(
        (r.id, r.part_id) for r in t.read("extracted").collect()
    )
    assert got == [(1, 0), (3, 1)]

    t.append(df2, "lineage")
    t.append(df2, "lineage")
    assert t.read("lineage").count() == 2
