"""Tests of the benchmark's own code: the seeded corpus, the span
arithmetic and the output check.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import corpus  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _write(tmp_path, name, seed, n=40, kinds=None):
    path = str(tmp_path / name)
    return path, corpus.write_corpus(path, corpus.row_indices(seed, kinds, n))


def test_same_seed_same_corpus(tmp_path):
    _, a = _write(tmp_path, "a", seed=3)
    _, b = _write(tmp_path, "b", seed=3)
    assert a == b
    assert a["files"] == corpus.N_FILES
    assert a["kinds"] == {"html": 28, "pdf": 10, "adversarial": 2}


def test_row_groups_pinned(tmp_path):
    path, desc = _write(tmp_path, "a", seed=0, n=64)
    files = sorted(os.listdir(path))
    assert len(files) == desc["files"] == corpus.N_FILES
    for f in files:
        assert pq.ParquetFile(os.path.join(path, f)).num_row_groups == corpus.ROW_GROUPS_PER_FILE


def test_other_seed_disjoint_urls_same_mix(tmp_path):
    pa_, a = _write(tmp_path, "a", seed=1)
    pb, b = _write(tmp_path, "b", seed=2)
    assert a["hash"] != b["hash"]
    assert a["kinds"] == b["kinds"]
    urls_a = {u for u, _ in corpus.read_rows(pa_)}
    urls_b = {u for u, _ in corpus.read_rows(pb)}
    assert len(urls_a) == len(urls_b) == 40
    assert not urls_a & urls_b


def test_kind_filter_and_warm_slice_disjoint():
    html = corpus.row_indices(5, ("html",), 30)
    warm = corpus.row_indices(5, None, corpus.WARM_ROWS, corpus.WARM_OFFSET)
    from pdf_parser_spark.synth import kind_for

    assert {kind_for(i) for i in html} == {"html"}
    assert not set(html) & set(warm)


def test_any_seed_maps_into_the_synth_range(tmp_path):
    # make_row's timestamp overflows past index ~1.8e9
    assert corpus.row_indices(corpus.N_SEEDS + 4, None, 3) == corpus.row_indices(4, None, 3)
    for seed in (-1, 2**40, corpus.N_SEEDS - 1):
        _write(tmp_path, f"s{seed}", seed=seed, n=2)


def _span(i, parent, start, end, name="x"):
    return spans.Span(i, parent, name, start, end)


def test_self_time_subtracts_children_union():
    s = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: [1, 5] is covered once
        _span(3, 0, 6.0, 7.0),
        _span(4, 3, 6.2, 6.4),  # grandchild: only span 3 loses it
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0 - 0.2)
    assert st[4] == pytest.approx(0.2)
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)  # overlap counted twice


def test_tracer_nesting_and_unwrap():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    t = spans.Tracer("t")
    original = Box.f
    with t.wrapped([(Box, "f", "box.f")]):
        with t.span("outer"):
            assert Box.f(1) == 2
    assert Box.f is original
    outer, inner = t.spans
    assert (outer.name, inner.name) == ("outer", "box.f")
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_replay_matches_oracle_and_counts_kernels(tmp_path):
    path, desc = _write(tmp_path, "a", seed=7, n=20)
    rows = corpus.read_rows(path)
    digests, m = spans.replay(rows, spans.Tracer("r"))
    assert digests == dict(spans.oracle_digest(r) for r in rows)
    # adversarial rows that look like html reach the html kernel and fail there
    html_errors = m["oracle.error_docs.bad_encoding"] + m["oracle.error_docs.parse_error"]
    assert m["kernels.html_extract.extract_html.calls"] == desc["kinds"]["html"] + html_errors
    assert m["kernels.clauses.extract_clauses.calls"] >= 1
    shares = [m[f"kernels.{k}.share"] for k in spans.KERNELS]
    assert 0 < sum(shares) <= 1


def test_sharded_oracle_digests_match_and_are_cached(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "WORK", str(tmp_path / "work"))
    path, desc = _write(tmp_path, "a", seed=9, n=10)
    want = dict(spans.oracle_digest(r) for r in corpus.read_rows(path))
    got = run.oracle_digests(path, desc["hash"], 3, os.path.dirname(HERE), str(tmp_path))
    assert got == want
    assert os.path.exists(tmp_path / "work" / "oracle" / f"{desc['hash']}.json")


@pytest.mark.parametrize("error,cls", [
    ("too_large", "too_large"),
    ("bad_container: bad magic", "bad_container"),
    ("bad_encoding: invalid start byte", "bad_encoding"),
    ("lettered item not allowed", "clause"),
])
def test_error_class(error, cls):
    assert spans.error_class(error) == cls


def _committed(root, rows, lineage):
    part = os.path.join(root, "extracted", "part_id=0")
    os.makedirs(part)
    cols = ["url", "extracted_text", "clauses_json", "tables_json", "error"]
    pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}),
                   os.path.join(part, "p.parquet"))
    os.makedirs(os.path.join(root, "lineage"))
    pq.write_table(pa.Table.from_pylist(lineage), os.path.join(root, "lineage", "l.parquet"))


def test_check_output_counts_missing_duplicate_and_wrong(tmp_path):
    good = {u: ("t", None, None, None) for u in ("a", "b", "c", "d")}
    digests = {u: spans.digest(*o) for u, o in good.items()}
    rows = [
        ("a", "t", None, None, None),
        ("b", "t", None, None, None),
        ("b", "t", None, None, None),  # duplicate
        ("c", "other", None, None, None),  # differs
        # "d" missing
    ]
    lineage = [{"run_id": "r", "status": "done", "n_docs": 4},
               {"run_id": "old", "status": "done", "n_docs": 9}]
    _committed(str(tmp_path), rows, lineage)
    c = run.check_output(str(tmp_path), "r", digests)
    assert c == {"rows": 4, "distinct_urls": 3, "lineage_docs": 4, "wrong": 3}


def test_check_output_all_right(tmp_path):
    digests = {"a": spans.digest("t", None, None, "e")}
    _committed(str(tmp_path), [("a", "t", None, None, "e")],
               [{"run_id": "r", "status": "done", "n_docs": 1}])
    assert run.check_output(str(tmp_path), "r", digests)["wrong"] == 0
