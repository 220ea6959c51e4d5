"""Executor package zip (``session.package_zip``) and the local file
system's jar (``session.fs_jar``): each keyed by the sha256 of its sources
and written to the temp dir, never into the repository. No Spark needed."""

import glob
import hashlib
import os
import shutil
import tempfile
import types
import zipfile

import pytest

from pdf_parser_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        for name in [".", *filenames]:
            p = os.path.join(dirpath, name)
            out[p] = os.stat(p).st_mtime_ns
    return out


def _sources(pkg: str) -> dict[str, bytes]:
    base = os.path.dirname(pkg)
    out = {}
    for dirpath, _dirnames, filenames in os.walk(pkg):
        if "__pycache__" in dirpath:
            continue
        for fn in filenames:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    out[os.path.relpath(full, base)] = f.read()
    return out


def test_package_zip_keyed_by_sources(tmp_path, monkeypatch):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    pkg = tmp_path / "src" / "pdf_parser_spark"
    shutil.copytree(
        session.PKG_ROOT, pkg, ignore=shutil.ignore_patterns("__pycache__")
    )
    (pkg / "__pycache__").mkdir(exist_ok=True)
    (pkg / "__pycache__" / "stale.py").write_text("x = 1\n")
    (pkg / "kernels" / "notes.txt").write_text("not shipped\n")
    repo_before = _tree(REPO)

    z1 = session.package_zip(str(pkg))
    assert os.path.dirname(z1) == str(tmp)
    assert session.package_zip(str(pkg)) == z1

    # every package .py file, byte for byte, and nothing else
    expected = _sources(str(pkg))
    assert "pdf_parser_spark/session.py" in expected
    with zipfile.ZipFile(z1) as z:
        assert sorted(z.namelist()) == sorted(expected)
        assert {n: z.read(n) for n in z.namelist()} == expected

    # one changed byte in one .py file gives a new zip; the old one stays
    target = pkg / "kernels" / "jstr.py"
    data = bytearray(target.read_bytes())
    data[0] ^= 1
    target.write_bytes(bytes(data))
    z2 = session.package_zip(str(pkg))
    assert z2 != z1
    assert os.path.exists(z1) and os.path.exists(z2)
    with zipfile.ZipFile(z2) as z:
        assert z.read("pdf_parser_spark/kernels/jstr.py") == bytes(data)

    # the real package builds into the temp dir too
    assert os.path.dirname(session.package_zip()) == str(tmp)
    assert sorted(os.listdir(tmp)) == sorted(
        os.path.basename(p) for p in {z1, z2, session.package_zip()}
    )
    assert _tree(REPO) == repo_before


def test_package_not_on_disk_ships_nothing(tmp_path, monkeypatch):
    # imported from the --py-files zip: PKG_ROOT is a path inside the zip
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    in_zip = str(tmp_path / "pdf_parser_spark-0.zip" / "pdf_parser_spark")
    with pytest.raises(FileNotFoundError):
        session.package_zip(in_zip)
    empty = tmp_path / "empty" / "pdf_parser_spark"
    empty.mkdir(parents=True)
    (empty / "notes.txt").write_text("no sources\n")
    with pytest.raises(FileNotFoundError):
        session.package_zip(str(empty))
    assert not glob.glob(str(tmp_path / "*.zip"))

    added = []
    sc = types.SimpleNamespace(addPyFile=added.append)
    monkeypatch.setattr(session, "PKG_ROOT", in_zip)
    session.ship_package(types.SimpleNamespace(sparkContext=sc))
    assert added == []


def test_fs_jar_keyed_by_source(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    repo_before = _tree(REPO)
    with open(session.FS_SOURCE, "rb") as f:
        source = f.read()
    digest = hashlib.sha256(source).hexdigest()

    jar = session.fs_jar()
    assert jar == str(tmp_path / f"NioLocalFileSystem-{digest}.jar")
    with zipfile.ZipFile(jar) as z:
        assert "pdf_parser_spark/NioLocalFileSystem.class" in z.namelist()
    built = os.stat(jar).st_mtime_ns
    assert session.fs_jar() == jar
    assert os.stat(jar).st_mtime_ns == built
    assert os.listdir(tmp_path) == [os.path.basename(jar)]

    # a changed source byte gives a new jar; the old one stays
    src = tmp_path / "src" / "NioLocalFileSystem.java"
    src.parent.mkdir()
    src.write_bytes(source + b"// changed\n")
    monkeypatch.setattr(session, "FS_SOURCE", str(src))
    changed = hashlib.sha256(src.read_bytes()).hexdigest()
    assert session.fs_jar() == str(tmp_path / f"NioLocalFileSystem-{changed}.jar")
    assert os.path.exists(jar)
    assert _tree(REPO) == repo_before


def test_fs_jar_without_javac(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setattr(shutil, "which", lambda _name: None)
    assert session.fs_jar() is None
    assert os.listdir(tmp_path) == []
