"""An operation that raises counts as failed and is reported, never
crashes the run (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, run
from perfbench.queries import MIX


def _bench(tmp_path):
    return run.Bench("build_text", seed=1, seconds=1.0, trace=False, work=str(tmp_path))


def _boom():
    raise RuntimeError("build failed")


def test_raising_build_is_counted_and_not_checked(tmp_path):
    b = _bench(tmp_path)
    assert b.build_op(_boom) is None
    assert (b.attempted, b.failed, b.build_outs) == (1, 1, [])
    assert b.build_op(lambda: (2.5, str(tmp_path / "missing"))) == 2.5
    # the build that returned is checked; its unreadable output fails
    # the check instead of raising
    b.check_outputs(expected=set())
    assert (b.attempted, b.failed) == (2, 2)


def test_answer_checks_count_wrong_answers(tmp_path):
    kg = tmp_path / "kg.parquet"
    pq.write_table(pa.table({c: ["ent:E01"] if c == "subj" else ["x"]
                             for c in checks.TRIPLE_COLS}), kg)
    b = _bench(tmp_path)
    b.served = [str(kg)]
    point = next(q for q in MIX if q.name == "point")
    b.answers = [(point, [("x", "x")]), (point, [("x", "y")]),
                 (point, str(tmp_path / "no_such_construct"))]
    b.check_outputs(expected=set())
    assert b.failed == 2


def test_end_to_end_leaves_out_metrics_without_samples():
    assert run.end_to_end(setup_s=9.0, cold=None, ops=[]) == {"setup_s": 9.0}
    m = run.end_to_end(9.0, 20.0, [8.0, 10.0, 9.0])
    assert m == {"setup_s": 9.0, "cold_op_s": 20.0, "op_s_p50": 9.0}


class _Frame:
    def __init__(self, n):
        self.n = n

    def persist(self, *_):
        return self

    def count(self):
        return self.n


def test_traced_calls_wrap_and_restore(monkeypatch):
    from kgc import triples

    from perfbench.spans import Tracer

    original = triples.dedup_triples
    monkeypatch.setattr(run, "TRACED_CALLS", (("triples", "dedup_triples", True),))
    monkeypatch.setattr(triples, "dedup_triples", lambda df: _Frame(df.n - 3))
    fake = triples.dedup_triples
    tr, held = Tracer(), []
    with run.traced_calls(tr, held):
        assert triples.dedup_triples(_Frame(10)).n == 7
    assert triples.dedup_triples is fake
    call, count = tr.spans
    assert call.name == "triples:dedup_triples" and count.name == "trace:rows_in"
    assert count.parent == call.id
    assert call.counts == {"rows_in": 10.0, "rows_out": 7.0} and len(held) == 1
    monkeypatch.undo()
    assert triples.dedup_triples is original
