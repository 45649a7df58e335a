"""Tests of the benchmark's own code: the seeded relabelling and the trace
folds. Run with ``python3 -m pytest perfbench -q`` (no Spark session)."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import tracing  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")
TABLES = ("customer", "supplier", "part", "orders", "lineitem", "events", "documents")


@pytest.fixture(scope="module")
def corpus():
    return inputs.base_corpus(0.002, TABLES)


def _join_rows(child, fk, parent, pk) -> int:
    keys = set(parent[pk].to_pylist())
    return sum(k in keys for k in child[fk].to_pylist())


def test_relabel_is_a_bijection_per_domain(corpus):
    out = inputs.relabel(corpus, seed=7)
    for dom, key in inputs.DOMAIN_KEY.items():
        if dom not in corpus:
            continue
        before, after = corpus[dom][key].to_numpy(), out[dom][key].to_numpy()
        assert sorted(after) == sorted(before)
        assert not np.array_equal(after, before)


def test_relabel_keeps_foreign_key_join_counts(corpus):
    out = inputs.relabel(corpus, seed=7)
    fks = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("events", "user_id", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ]
    for child, fk, parent, pk in fks:
        n = _join_rows(corpus[child], fk, corpus[parent], pk)
        assert n == len(corpus[child])
        assert _join_rows(out[child], fk, out[parent], pk) == n


def test_relabel_moves_keys_consistently(corpus):
    """A row keeps its parent: the relabelled order of a lineitem is the
    relabelled image of its original order."""
    out = inputs.relabel(corpus, seed=3)
    perm = dict(zip(corpus["orders"]["o_orderkey"].to_pylist(),
                    out["orders"]["o_orderkey"].to_pylist()))
    before = corpus["lineitem"]["l_orderkey"].to_pylist()
    after = out["lineitem"]["l_orderkey"].to_pylist()
    assert after == [perm[k] for k in before]


def test_seed_decides_the_labels(corpus):
    a = inputs.relabel(corpus, seed=5)["events"]["user_id"]
    b = inputs.relabel(corpus, seed=5)["events"]["user_id"]
    c = inputs.relabel(corpus, seed=6)["events"]["user_id"]
    assert a.equals(b)
    assert not a.equals(c)


def test_base_corpus_shape(corpus):
    assert len(corpus["events"]) == 2000
    assert len(corpus["orders"]) == 3000
    assert len(corpus["lineitem"]) == 3000 * inputs.LINES_PER_ORDER
    ts = corpus["events"]["ts"]
    assert pc.all(pc.greater_equal(ts.slice(1), ts.slice(0, len(ts) - 1))).as_py()
    docs = corpus["documents"]
    assert docs["n_chars"].to_pylist() == [len(t) for t in docs["text"].to_pylist()]


def test_build_caches_by_workload_and_seed(tmp_path):
    d1, s1 = inputs.build(str(tmp_path), "w", 0.001, ("events",), 1)
    d2, s2 = inputs.build(str(tmp_path), "w", 0.001, ("events",), 1)
    d3, _ = inputs.build(str(tmp_path), "w", 0.001, ("events",), 2)
    assert d1 == d2 and s1 > 0 and s2 == 0.0
    assert d3 != d1
    assert sorted(os.listdir(d1)) == ["_DONE", "events.parquet", "nation.parquet",
                                      "region.parquet"]


# ---------------------------------------------------------------------------
# folds over a recorded excerpt: two jobs of a stream_warehouse pass (a q2b
# micro-batch running Python workers, and the benchmark's own job group) and
# the progress events of the same pass, trimmed to the fields the folds
# read. The expected values were summed from the excerpt by hand-written
# loops independent of the folds.
# ---------------------------------------------------------------------------
def _expected(name):
    with open(os.path.join(FIXTURES, name)) as fh:
        return json.load(fh)


def _check(out, expected):
    for k, v in out.items():
        assert v == pytest.approx(expected.get(k, 0.0)), k
    assert set(expected) <= set(out)


def test_fold_eventlog_excerpt():
    events = tracing.read_eventlog(os.path.join(FIXTURES, "eventlog"))
    exp = _expected("eventlog_expected.json")
    out = tracing.fold_eventlog(events, ("warm1", *exp["window"]))
    _check(out, exp["expected"])
    assert out["python.worker_s"] > 0


def test_fold_eventlog_ignores_events_outside_the_window():
    events = tracing.read_eventlog(os.path.join(FIXTURES, "eventlog"))
    out = tracing.fold_eventlog(events, ("none", 0, 1))
    assert out["spark.tasks"] == 0 and out["spark.jobs"] == 0
    assert out["spark.driver_gap_s"] == pytest.approx(0.001)


def test_job_spans_by_group():
    events = tracing.read_eventlog(os.path.join(FIXTURES, "eventlog"))
    exp = _expected("eventlog_expected.json")
    (start, end), = tracing.job_spans_by_group(events)[exp["group"]]
    assert exp["window"][0] <= start < end <= exp["window"][1]


def test_fold_progress_excerpt():
    progress = _expected("progress.json")
    exp = _expected("progress_expected.json")
    out = tracing.fold_progress(progress, ("warm1", *exp["window"]), exp["call_end_ms"])
    _check(out, exp["expected"])
    labels = {tracing.query_label(p) for p in progress}
    assert labels == {q for q, _ in tracing.STREAM_QUERIES}


def test_union_of_stage_spans():
    assert tracing._union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert tracing._union_ms([(0, 10), (5, 20)], 8, 12) == 4
    assert tracing._union_ms([], 0, 100) == 0


def test_spans_nest_and_share_the_pass():
    rec = tracing.Spans()
    rec.pass_id = "warm1"
    with rec.span("pass"):
        with rec.span("call.x"):
            pass
    outer, inner = rec.spans
    assert inner["parent"] == 0 and outer["parent"] is None
    assert inner["pass"] == outer["pass"] == "warm1"
    assert outer["start_ms"] <= inner["start_ms"] <= inner["end_ms"] <= outer["end_ms"]
    off = tracing.Spans(enabled=False)
    with off.span("pass"):
        pass
    assert off.spans == []
