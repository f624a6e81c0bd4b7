"""bench.py harness hygiene."""

from __future__ import annotations

from types import SimpleNamespace

import bench


def _persisted(jsc) -> dict:
    return {int(k): v for k, v in jsc.getPersistentRDDs().items()}


def test_sweep_persisted_releases_checkpoint_blocks(spark):
    """The sweep unpersists a checkpointed frame's RDD.  It is handed a
    persistent-RDD map that holds only the RDDs this test created, so
    blocks that session-scoped fixtures keep persisted are left alone."""
    jsc = spark.sparkContext._jsc
    before = set(_persisted(jsc))
    spark.range(100).localCheckpoint(eager=True)
    held = _persisted(jsc)
    ours = set(held) - before
    assert ours, "localCheckpoint registered no persistent RDD"
    jmap = spark.sparkContext._jvm.java.util.HashMap()
    for k in ours:
        jmap.put(k, held[k])
    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(
            _jsc=SimpleNamespace(getPersistentRDDs=lambda: jmap)
        )
    )
    bench._sweep_persisted(fake)
    left = set(_persisted(jsc))
    assert not ours & left
    assert before <= left  # nothing the fixtures hold was dropped
