"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import replica  # noqa: E402
import run  # noqa: E402
from tracing import NullTracer, layer_totals, uncovered_share  # noqa: E402
from workloads import WORKLOADS, KgBuild, shape_mismatches  # noqa: E402

N_DOCS, N_DUPS = 300, 30


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _docs(tmp_path, name: str, seed: int) -> str:
    return inputs.write_parquet(inputs.kg_documents(seed, N_DOCS, N_DUPS), str(tmp_path / name))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = _docs(tmp_path, "a.parquet", 7), _docs(tmp_path, "b.parquet", 7)
    assert _digest(a) == _digest(b)
    assert _digest(_docs(tmp_path, "c.parquet", 8)) != _digest(a)
    # the graphs the SHACL workloads validate are derived from the documents
    docs = inputs.kg_documents(7, N_DOCS)
    ka, kb = str(tmp_path / "ka.parquet"), str(tmp_path / "kb.parquet")
    assert replica.write_triples(docs, ka) == replica.write_triples(docs, kb) > 0
    assert _digest(ka) == _digest(kb)
    assert inputs.shapes_ttl(inputs.shape_decls(14)) == inputs.shapes_ttl(inputs.shape_decls(14))


def test_inputs_keep_their_size_across_seeds():
    for seed in (1, 2):
        t, bases = inputs.kg_corpus(seed, N_DOCS, N_DUPS)
        assert t.num_rows == N_DOCS and len(bases) == N_DUPS
        sources = Counter(t.column("source").to_pylist())
        assert set(sources.values()) == {N_DOCS // inputs.N_SOURCES}
        # every planted copy is a near duplicate of its base
        assert len(inputs.planted_pairs(t, bases, 0.5)) == N_DUPS


class _Rows:
    """Stands in for the pairs DataFrame an operation leaves behind."""

    def __init__(self, pairs: dict):
        self.pairs = pairs

    def collect(self):
        return [{"a": a, "b": b, "jaccard": j} for (a, b), j in self.pairs.items()]


def _kg_with_output(tmp_path, corrupt: bool) -> KgBuild:
    """A KgBuild whose warm-up and operation 1 found the planted pairs and
    'committed' the replica's own triples, optionally with one object value
    changed."""
    wl = KgBuild(None, 7, str(tmp_path))
    wl.docs, wl.bases = inputs.kg_corpus(7, N_DOCS, N_DUPS)
    planted = inputs.planted_pairs(wl.docs, wl.bases, 0.5)
    wl.pairs[0] = _Rows(planted)
    wl.reference()
    out = tmp_path / "snap"
    out.mkdir()
    t = pq.read_table(wl.expected)
    if corrupt:
        rows = t.to_pylist()
        rows[0]["o"] = rows[0]["o"] + "x"
        t = pa.Table.from_pylist(rows)
    pq.write_table(t, out / "part-0.parquet")
    wl.data_path = str(out)
    wl.pairs[1] = _Rows(dict(planted))
    wl.checksums.update({0: "42", 1: "42"})
    return wl


def test_kg_check_accepts_replica_output(tmp_path):
    assert _kg_with_output(tmp_path, corrupt=False).check(1)


def test_kg_check_rejects_corrupted_snapshot(tmp_path):
    assert not _kg_with_output(tmp_path, corrupt=True).check(1)


def test_kg_check_rejects_changed_checksum(tmp_path):
    wl = _kg_with_output(tmp_path, corrupt=False)
    wl.checksums[1] = "43"
    assert not wl.check(1)


def test_kg_check_rejects_wrong_near_duplicate_pairs(tmp_path):
    wl = _kg_with_output(tmp_path, corrupt=False)
    (a, b), j = next(iter(wl.expected_pairs.items()))
    for wrong in ({**wl.expected_pairs, (a, b): j - 0.01},  # inexact jaccard
                  {**wl.expected_pairs, (0, 1): 0.6}):  # not a planted pair
        wl.pairs[1] = _Rows(wrong)
        assert not wl.check(1)
    missing = dict(wl.expected_pairs)
    del missing[(a, b)]  # differs from the warm-up's pairs
    wl.pairs[1] = _Rows(missing)
    assert not wl.check(1)


def test_pairs_check_bounds_missed_pairs():
    wl = KgBuild(None, 7, "")
    wl.expected_pairs = {(i, 1000 + i): 0.9 for i in range(100)}
    found = dict(wl.expected_pairs)
    for k in list(found)[:2]:
        del found[k]
    assert wl.pairs_ok(found)  # 2% missed
    del found[next(iter(found))]
    assert not wl.pairs_ok(found)


class _FakeWorkload:
    """Operations whose output is corrupted (check fails) or that raise."""

    def __init__(self, bad: set[int], raising: set[int], whole: bool = True):
        self.bad, self.raising, self.whole = bad, raising, whole

    def prepare(self, i):
        pass

    def op(self, i, tr):
        if i in self.raising:
            raise RuntimeError("boom")
        return 10

    def check(self, i):
        return i not in self.bad

    def final_check(self):
        return self.whole


def _loop(wl):
    return run.run_ops(wl, 0.0, lambda i: NullTracer(), 5, lambda msg: None)


def test_corrupted_output_counts_as_failed_operation():
    ops = _loop(_FakeWorkload(bad={2}, raising={4}))
    assert [o["ok"] for o in ops] == [True, False, True, False, True]
    assert sum(not o["ok"] for o in ops) == 2
    # items count only from operations whose check passed
    e2e = run.end_to_end(ops, setup_s=1.0, rss=1.0)
    assert e2e["items_per_s"]["value"] == pytest.approx(30 / sum(o["wall"] for o in ops))


def test_failed_joint_check_fails_every_operation():
    ops = _loop(_FakeWorkload(bad=set(), raising=set(), whole=False))
    assert len(ops) == 5 and not any(o["ok"] for o in ops)


def _report(rows):
    return Counter({(shape, (shape, v)): 1 for shape, v in rows})


def test_shape_check_flags_changed_rows_and_missing_violations():
    expected = _report([("S1", "a"), ("S2", "b")])
    assert shape_mismatches(expected, expected, ["S1"], ["S3"]) == []
    assert shape_mismatches(_report([("S1", "a"), ("S2", "c")]), expected, [], []) == ["S2"]
    assert shape_mismatches(_report([("S1", "a")]), expected, [], []) == ["S2"]
    # a violating shape that reports nothing fails even if the reference agrees
    assert shape_mismatches(_report([("S2", "b")]), _report([("S2", "b")]), ["S1"], []) == ["S1"]
    assert shape_mismatches(expected, expected, [], ["S2"]) == ["S2"]


def test_layer_self_time_steps_and_uncovered_share():
    def span(i, name, parent, start, end, notes=None, **counters):
        return {"id": i, "name": name, "parent": parent, "start": start, "end": end,
                "notes": notes or {}, **counters}

    spans = [
        span(0, "a", None, 0.0, 4.0, jobs=1),
        span(1, "b", 0, 1.0, 2.0, {"rows_out": 5}, jobs=2),
        span(2, "b", None, 4.0, 9.0),
        span(3, "b.step", 2, 5.0, 6.0, {"rows_out": 7}, jobs=3),
    ]
    t = layer_totals(spans, cores=4)
    assert t["a"]["wall_s"] == 4.0 and t["a"]["self_s"] == 3.0
    # a child span of another name keeps its jobs; a step adds to its parent
    assert t["a"]["jobs"] == 1 and t["b"]["jobs"] == 5 and t["b.step"]["jobs"] == 3
    assert t["b"]["wall_s"] == 6.0 and t["b"]["rows_out"] == 5
    assert uncovered_share(spans, 0.0, 10.0) == pytest.approx(0.1)


def test_printed_metrics_match_benchmark_json():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    ops = [
        {"i": 1, "wall": 2.0, "items": 5, "ok": True, "traced": False},
        {"i": 2, "wall": 2.2, "items": 5, "ok": True, "traced": True, "start": 0.0, "spans": []},
    ]
    e2e = run.end_to_end(ops, setup_s=1.0, rss=100.0)
    assert [(k, v["unit"]) for k, v in e2e.items()] == [
        (m["name"], m["unit"]) for m in spec["end_to_end"]
    ]
    layers = run.per_layer(ops, heap_peak_mb=1.0)
    assert [(k, v["unit"]) for k, v in layers.items()] == [
        (m["name"], m["unit"]) for m in spec["per_layer"]
    ]
    assert layers["trace.overhead_share"]["value"] == pytest.approx(0.1)
