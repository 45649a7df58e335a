"""The live warehouse topology sizes its stateful queries (q2a, q2b, q3)
with one rule, session.stream_volume_width: a shuffle partition per 8 MiB
of q1's source, at least 1, at most the cores."""

from __future__ import annotations

import os

from gmall_spark import session
from gmall_spark.streaming import topology

MIB = 1 << 20


def _chunk_bytes(spark, sf_dir) -> int:
    from gmall_spark.streaming.multibatch import chunk_events

    d = chunk_events(spark, sf_dir, 3)
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def test_volume_width_rule(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_JVM_SHUFFLE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    width = session.stream_volume_width
    # floor of 1, including an empty or unmeasurable source
    assert width(0) == width(8 * MIB - 1) == width(8 * MIB) == 1
    # one more partition per 8 MiB
    assert width(16 * MIB) == 2
    assert width(24 * MIB + 1) == 3
    # capped at the cores
    assert width(32 * MIB) == width(10_000 * MIB) == 4
    # single-query JVM-state entries take the same ramp above a floor of 8
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    js = session.stream_jvm_state_width
    assert js() == js(0) == js(24 * MIB) == 8
    assert js(200 * MIB) == 25
    assert js(10_000 * MIB) == 32


def test_stream_input_bytes_measures_the_chunk_source(spark, sf_dir):
    """The topology's width input: a 0 here would silently pin it at 1."""
    from gmall_spark.streaming.multibatch import stream_event_chunks
    from gmall_spark.streaming.pipelines import _stream_input_bytes

    want = _chunk_bytes(spark, sf_dir)
    assert want > 0
    assert _stream_input_bytes(stream_event_chunks(spark, sf_dir, 3)) == want


def test_append_topology_runs_at_the_volume_width(spark, sf_dir, monkeypatch):
    """Every stateful operator of the four queries runs at the volume width
    of the source. The per-partition volume is shrunk so that width is 3,
    distinct from the floor (1) and from the cores (4)."""
    import __spark_entry__ as entrymod
    from tests.oracle import compare, duck_connection

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    per_partition = _chunk_bytes(spark, sf_dir) // 3
    monkeypatch.setattr(session, "_JVM_STATE_BYTES_PER_PARTITION", per_partition)
    last = {}
    real_drain = topology._drain

    def drain_then_record(queries, *args, **kwargs):
        real_drain(queries, *args, **kwargs)
        last.update((str(q.id), q.lastProgress) for q in queries)

    monkeypatch.setattr(topology, "_drain", drain_then_record)
    name = "streaming_warehouse_e2e_append"
    df = entrymod.queries()[name](spark, sf_dir)

    widths = {
        qid: [op["numShufflePartitions"] for op in p["stateOperators"]]
        for qid, p in last.items()
    }
    assert len(widths) == 4
    assert sum(1 for w in widths.values() if w) == 3, widths  # q2a, q2b, q3
    assert all(w == 3 for ws in widths.values() for w in ws), widths

    con = duck_connection(sf_dir)
    try:
        ok, msg = compare(df, con, entrymod.oracle_sql()[name])
    finally:
        con.close()
    assert ok, msg
