"""The output checks must pass on right outputs and fail on corrupted
ones (DuckDB and pyarrow only, no Spark session):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.queries import MIX


def _write_triples(path, rows):
    path.mkdir(parents=True)
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    pq.write_table(
        pa.table(dict(zip(checks.TRIPLE_COLS, map(list, cols))), schema=pa.schema(
            [(c, pa.string()) for c in checks.TRIPLE_COLS])),
        path / "part-0.parquet",
    )


def test_oracle_and_triples_check(tmp_path):
    docs = pa.table({"doc_id": pa.array([0, 1], pa.int64()),
                     "text": ["the customer ran a table scan", "spark and data"]})
    corpus = tmp_path / "documents.parquet"
    pq.write_table(docs, corpus)
    want = checks.expected_triples(str(corpus))
    assert ("seg:0#0", "mentions", "ent:E01", "node") in want
    assert ("seg:0#0", "events", "ent:E02", "node") in want  # 'table scan' beats 'scan'
    assert ("ent:E08", "name", "spark", "literal") in want

    good = sorted(want)
    _write_triples(tmp_path / "good" / "triples", good)
    assert checks.triples_ok(str(tmp_path / "good"), want)

    # a changed object, a dropped row, a duplicated row
    changed = [good[0][:2] + ("ent:E99",) + good[0][3:]] + good[1:]
    for i, rows in enumerate((changed, good[1:], good + good[:1])):
        _write_triples(tmp_path / f"bad{i}" / "triples", rows)
        assert not checks.triples_ok(str(tmp_path / f"bad{i}"), want)


def test_query_references_and_answer_check(tmp_path):
    kg = [
        ("seg:a#0", "mentions", "ent:E01", "node"),
        ("seg:a#0", "locations", "ent:E06", "node"),
        ("seg:b#0", "about", "ent:E08", "node"),
        ("seg:c#0", "mentions", "ent:E08", "node"),
        ("ent:E06", "name", "window", "literal"),
        ("ent:E06", "@type", "Place", "literal"),
        ("ent:E01", "@type", "Person", "literal"),
        ("ent:E01", "name", "customer", "literal"),
    ]
    path = tmp_path / "kg.parquet"
    pq.write_table(pa.table(dict(zip(checks.TRIPLE_COLS, map(list, zip(*kg))))), path)
    h, _, _ = inputs.hierarchy(seed=1, n_classes=3)
    pq.write_table(h, tmp_path / "h.parquet")
    refs = checks.References([str(path), str(tmp_path / "h.parquet")])
    try:
        q = {m.name: m for m in MIX}
        uvm = refs.answer(q["union_values_minus"].sql)
        assert sorted(uvm) == [("seg:b#0",), ("seg:c#0",)]
        star = refs.answer(q["star_chain"].sql)
        assert star == [("seg:a#0", "ent:E06", "Place")]
        assert refs.answer(q["optional"].sql) == [("seg:a#0", None)]
        path_ans = refs.answer(q["path"].sql)
        assert path_ans == [("ent:E01", "customer")]  # Person subClassOf+ Agent
        assert sorted(refs.answer(q["point"].sql)) == [("@type", "Person"),
                                                        ("name", "customer")]
    finally:
        refs.close()

    assert checks.same_answer([("x",), ("y",)], [("y",), ("x",)], ordered=False)
    assert not checks.same_answer([("x",), ("y",)], [("y",), ("x",)], ordered=True)
    assert not checks.same_answer([("x",), ("x",)], [("x",)], ordered=False)
    assert not checks.same_answer([("x", None)], [("x", "n")], ordered=False)


def test_inputs_are_seeded():
    a, b = inputs.corpus(7, 200), inputs.corpus(7, 200)
    assert a.equals(b) and not a.equals(inputs.corpus(8, 200))
    texts = a.column("text").to_pylist()
    lens = [len(t.split()) for t in texts]
    long = [n for i, n in enumerate(lens) if i % inputs.LONG_EVERY == 0]
    assert all(n > 100 for n in long) and max(long) > 200
    assert all(10 <= n <= 100 for i, n in enumerate(lens)
               if i % inputs.LONG_EVERY and not texts[i].endswith(" dup"))
    dups = [t for t in texts if t.endswith(" dup")]
    assert dups and all(t[:-4] in texts for t in dups)
    k1 = inputs.base_kg(3, 200, 50, 12, "ent:E01", 0.1)
    assert k1.equals(inputs.base_kg(3, 200, 50, 12, "ent:E01", 0.1))
    rows = set(zip(*(k1.column(c).to_pylist() for c in checks.TRIPLE_COLS)))
    assert len(rows) == k1.num_rows  # a set of triples
    assert any(r[2] == "ent:E01" for r in rows)
