"""Plan-construction cost: building a headline query's DataFrame must
stay a bounded number of py4j round trips. Every Column node built in
Python is one round trip (~0.3 ms on a 4-vCPU host), so a wide
expression list built node by node (64 SimHash bits, 64 MinHash
aggregates) costs seconds of driver time before Spark runs anything.
Wide lists are SQL strings, one call each (operators/dedup.py)."""

from __future__ import annotations

import threading

from py4j.clientserver import ClientServerConnection

from colcrush import queries as Q
from perfbench.workloads import QUERY_DATA, QUERY_LIST

# One flat budget for every headline query: the largest build,
# rounded up (roundtrip_lineitem_q1, 1,366 calls). Node-by-node builds
# of the three SimHash/MinHash leaves took 6.1k-9.4k calls, and
# scan_bloom_point's manifest prune expressions 1,492.
BUILD_CALL_BUDGET = 1400


def test_headline_query_builds_stay_within_py4j_budget(spark, monkeypatch):
    # the bloom datasets and lookup keys are per-process fixtures the
    # benchmark builds before its timed passes; build them uncounted
    Q.bloom_fixture_paths(spark, QUERY_DATA)
    Q.bloom_lookup_targets(spark, QUERY_DATA)

    # count this thread's commands only: py4j's finalizer thread sends
    # the delete of every collected JavaObject whenever it gets to it
    calls = 0
    building_thread = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == building_thread
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    counts = {}
    for q in QUERY_LIST:
        before = calls
        Q.QUERIES[q](spark, QUERY_DATA)
        counts[q] = calls - before
    monkeypatch.undo()

    assert all(counts.values()), f"the send_command hook counted nothing: {counts}"
    over = {q: n for q, n in counts.items() if n > BUILD_CALL_BUDGET}
    assert not over, (
        f"py4j calls while building, over {BUILD_CALL_BUDGET}: {over} (all: {counts})"
    )
