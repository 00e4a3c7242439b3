"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/tests -q

- the generator gives identical inputs for a seed, different for another;
- the correctness checks flag a tampered result (row count, digest);
- self-time arithmetic is right on a hand-built span tree;
- the tail statistic leaves at least ten samples beyond it.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import checks, core, gen, trace  # noqa: E402

_SMALL = {"lineitem": 3000, "lineitem_small": 1000,
          "orders": 500, "customer": 100, "part": 200, "events": 2000}


@pytest.fixture
def small_sizes(monkeypatch):
    for k, v in _SMALL.items():
        monkeypatch.setitem(gen.SIZES, k, v)


def test_generator_is_deterministic_per_seed(tmp_path, small_sizes):
    a = gen.generate(3, str(tmp_path / "a"))
    b = gen.generate(3, str(tmp_path / "b"))
    c = gen.generate(4, str(tmp_path / "c"))
    assert gen.fingerprint(a) == gen.fingerprint(b)
    assert gen.fingerprint(a) != gen.fingerprint(c)
    # cached: a second call returns the same directory untouched
    before = gen.fingerprint(a)
    assert gen.generate(3, str(tmp_path / "a")) == a
    assert gen.fingerprint(a) == before


def test_manifest_counts_match_the_csv(tmp_path, small_sizes):
    """The expected read/failed counts agree with an independent parse of
    the written CSV (DuckDB, with the same bad-cell rules)."""
    import duckdb
    import json
    d = gen.generate(5, str(tmp_path))
    with open(os.path.join(d, "manifest.json")) as f:
        man = json.load(f)
    con = duckdb.connect()
    row = con.sql(f"""
        SELECT count(*) FILTER (WHERE l_returnflag <> 'R'),
               count(*) FILTER (WHERE l_returnflag <> 'R' AND (
                   l_orderkey IS NULL
                   OR TRY_CAST(trim(l_quantity) AS DOUBLE) IS NULL
                   OR TRY_CAST(l_extendedprice AS DOUBLE) IS NULL
                   OR TRY_CAST(l_discount AS DOUBLE) IS NULL
                   OR TRY_CAST(l_shipdate AS DATE) IS NULL))
        FROM read_csv('{d}/lineitem_large.csv', all_varchar=true,
                      header=true)""").fetchone()
    assert row == (man["lineitem_large"]["read"],
                   man["lineitem_large"]["failed"])
    assert 0 < row[1] < row[0]


def _first_cycles(seed, shapes, n=3):
    it = gen.job_cycles(seed, shapes)
    return [next(it) for _ in range(n)]


def test_job_cycles_are_seeded():
    shapes = ["a", "b", "c", "d", "e", "f"]
    seq = _first_cycles(1, shapes)
    assert _first_cycles(1, shapes) == seq
    # every cycle holds each shape once, whatever the seed
    assert all(sorted(c) == shapes for c in seq)
    assert any(_first_cycles(s, shapes) != seq for s in range(2, 6))


def _status(read=100, written=90, failed=10, status="COMPLETED"):
    return {"status": status, "recordsRead": read,
            "recordsWritten": written, "recordsFailed": failed}


def test_job_count_check_flags_tampering():
    assert checks.job_counts(_status(), 100, 10) is None
    assert "written" in checks.job_counts(_status(written=89), 100, 10)
    assert "read" in checks.job_counts(_status(read=101, written=91),
                                       100, 10)
    assert "failed" in checks.job_counts(_status(written=91, failed=9),
                                         100, 10)
    assert "FAILED" in checks.job_counts(_status(status="FAILED"), 100, 10)


def test_digest_flags_a_tampered_result():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, None)]
    want = checks.digest_rows(cols, rows)
    # row order and column order do not matter; float noise below 1e-6
    # does not either
    assert checks.digest_rows(["v", "k"], [(1.25 + 1e-12, 2), (None, 3),
                                           (0.5, 1)]) == want
    assert checks.same_digest(want, want, "x") is None
    for bad in ([(1, 0.5), (2, 1.26), (3, None)],      # changed value
                [(1, 0.5), (2, 1.25)],                 # dropped row
                [(1, 0.5), (2, 1.25), (3, None), (3, None)]):  # extra row
        got = checks.digest_rows(cols, bad)
        assert checks.same_digest(got, want, "x") is not None


def _span(name, start, end, parent=None):
    return trace.Span(name, start, end, parent=parent, op=0)


def test_self_times_on_a_hand_built_tree():
    spans = [
        _span("op", 0.0, 10.0),                       # 0
        _span("api.run_sync", 1.0, 9.5, 0),           # 1
        _span("runner.run_job", 1.5, 9.0, 1),         # 2
        _span("readers.read_source", 1.6, 2.0, 2),    # 3
        _span("errors.split_errors", 2.0, 5.0, 2),    # 4
        _span("builder.build_plan", 5.0, 5.5, 2),     # 5
        _span("readers.read_source", 5.1, 5.4, 5),    # 6
        _span("writers.write_sink", 6.0, 8.0, 2),     # 7
    ]
    assert trace.self_times(spans) == pytest.approx(
        [1.5, 1.0, 1.6, 0.4, 3.0, 0.2, 0.3, 2.0])
    layers = trace.layer_self_times(spans)
    assert layers == pytest.approx({"bench": 1.5, "api": 1.0, "runner": 1.6,
                                    "readers": 0.7, "errors": 3.0,
                                    "builder": 0.2, "writers": 2.0})
    # the layers account for the op's wall time exactly
    assert sum(layers.values()) == pytest.approx(10.0)


def test_span_recorder_nests_and_ignores_other_threads():
    import threading
    rec = trace.SpanRecorder()
    inner = rec.wrap("writers.write_sink", lambda: 7)
    outer = rec.wrap("runner.run_job", lambda: inner() + 1)
    rec.begin_op(0)
    assert outer() == 8
    t = threading.Thread(target=inner)
    t.start()
    t.join()
    rec.end_op()
    assert [(s.name, s.parent) for s in rec.spans] == [
        ("op", None), ("runner.run_job", 0), ("writers.write_sink", 1)]


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 31)]          # 30 samples
    v, pct = core.tail_stat(xs)
    assert sum(x > v for x in xs) == core.TAIL_BEYOND
    assert pct == pytest.approx(100 * 20 / 30)
    v, pct = core.tail_stat([3.0, 1.0, 2.0])       # too few: the median
    assert v == 2.0
