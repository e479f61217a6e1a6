"""One broadcast memo for the fused, snap and PIP joins: FIFO past its cap,
and an evicted broadcast is destroyed, not just dropped."""

from __future__ import annotations

from landlensdb_spark import synth
from landlensdb_spark.broadcast_memo import CAP, BroadcastMemo
from landlensdb_spark.operators import pip_join


def test_eviction_destroys_oldest_broadcast(spark):
    memo = BroadcastMemo()
    n = CAP + 1
    got = [memo.get(spark, i, None, lambda i=i: ([i], f"x{i}")) for i in range(n)]
    bcs = [g[0] for g in got]
    assert not bcs[0]._jbroadcast.isValid()  # evicted first, destroyed
    assert all(b._jbroadcast.isValid() for b in bcs[1:])
    assert len({g[1] for g in got}) == n  # one fresh token per prep
    # hits return the same entry without building again
    assert memo.get(spark, n - 1, None, lambda: 1 / 0) == got[-1]
    assert [g[2] for g in got] == [f"x{i}" for i in range(n)]


def test_pip_join_memo_destroys_evicted(spark):
    memo = pip_join._memo
    pts = spark.createDataFrame([(1, 0.0, 0.0)], "id long, lon double, lat double")
    tables = [synth.admin_polygons(spark) for _ in range(CAP + 1)]
    first = None
    for polys in tables:
        pip_join.pip_join(pts, polys).count()
        first = first or memo._entries[(id(tables[0]), "admin_id", "ring")][1]
    assert len(memo._entries) == CAP
    assert not first._jbroadcast.isValid()
