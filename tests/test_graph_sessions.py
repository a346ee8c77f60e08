"""Connected components (near-dup clustering) + batch sessionization."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from cadastre_pg_spark.operators.graph import connected_components, dedup_clusters
from cadastre_pg_spark.operators.held import release_cached
from cadastre_pg_spark.operators.sessions import session_stats, sessionize
from conftest import persisted_rdd_ids


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def test_connected_components_basic(spark):
    # chain 1-2-3, pair 10-11, triangle 20-21-22 (+ redundant edge)
    cc = connected_components(
        _edges(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)])
    )
    got = {r.node: r.cluster for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_and_bound(spark):
    chain = [(i, i + 1) for i in range(30)]
    got = {r.node: r.cluster for r in connected_components(_edges(spark, chain)).collect()}
    assert set(got.values()) == {0} and len(got) == 31
    # a diameter beyond max_rounds must raise loudly, not emit a
    # non-converged labeling
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(_edges(spark, chain), max_rounds=2)


def test_connected_components_empty(spark):
    assert connected_components(_edges(spark, [])).count() == 0


def test_dedup_clusters_planted(spark):
    # 3 identical docs + 1 distinct long doc -> one cluster of 3
    base = " ".join(f"w{k}" for k in range(30))
    rows = [(1, base), (2, base), (3, base), (9, " ".join(f"z{k}" for k in range(30)))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.cluster for r in dedup_clusters(docs, threshold=0.9).collect()}
    assert got == {1: 1, 2: 1, 3: 1}  # doc 9 has no pair, no cluster row


def test_dedup_clusters_cache_release(spark):
    """The clustering chain persists/checkpoints per round; after
    release_cached no storage from this op may remain registered,
    localCheckpoint RDDs included."""
    base = " ".join(f"w{k}" for k in range(30))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base)], "doc_id long, text string"
    )
    before = persisted_rdd_ids(spark)
    out = dedup_clusters(docs, threshold=0.9)
    out.count()
    assert len(persisted_rdd_ids(spark) - before) >= 2
    release_cached(out)
    assert not persisted_rdd_ids(spark) - before


def test_sessionize_gap_rule(spark):
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 7: events at +0, +10min, +50min (gap>30 -> new session), +55min
        (1, 7, t0),
        (2, 7, t0 + timedelta(minutes=10)),
        (3, 7, t0 + timedelta(minutes=50)),
        (4, 7, t0 + timedelta(minutes=55)),
        # user 8: single event
        (5, 8, t0),
        # exact 30-min gap is NOT a boundary (> rule, microsecond exact)
        (6, 9, t0),
        (7, 9, t0 + timedelta(minutes=30)),
        (8, 9, t0 + timedelta(minutes=30, microseconds=1)
         + timedelta(minutes=30)),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r.event_id: r.session_idx
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1, 6: 1, 7: 1, 8: 2}
    stats = {
        (r.user_id, r.session_idx): r.n_events
        for r in session_stats(ev, gap_minutes=30).collect()
    }
    assert stats[(7, 1)] == 2 and stats[(7, 2)] == 2 and stats[(8, 1)] == 1


def test_funnel_steps_planted(spark):
    from cadastre_pg_spark.operators.sessions import funnel_steps

    T = datetime(2024, 1, 1, 10, 0, 0)

    def at(m):
        return T + timedelta(minutes=m)

    rows = [
        # u1: full funnel in order
        (1, at(0), "view"), (1, at(1), "click"), (1, at(2), "purchase"),
        # u2: click before view -> only view counts; later click advances
        (2, at(0), "click"), (2, at(1), "view"), (2, at(2), "click"),
        # u3: purchase before click -> stops at 2 (needs purchase AFTER click)
        (3, at(0), "view"), (3, at(1), "purchase"), (3, at(2), "click"),
        # u4: simultaneous view+click -> click not strictly after view
        (4, at(0), "view"), (4, at(0), "click"),
        # u5: no funnel events at all
        (5, at(0), "error"),
    ]
    ev = spark.createDataFrame(
        [(i, u, t, y) for i, (u, t, y) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = {
        r.user_id: (r.steps_reached, r.t1, r.t2, r.t3)
        for r in funnel_steps(ev, ["view", "click", "purchase"]).collect()
    }
    assert got[1] == (3, at(0), at(1), at(2))
    assert got[2] == (2, at(1), at(2), None)
    assert got[3] == (2, at(0), at(2), None)
    assert got[4] == (1, at(0), None, None)
    assert got[5] == (0, None, None, None)
    assert len(got) == 5


def test_keep_best_planted(spark):
    """Survivor rule: most tokens wins, ties break to lowest doc_id;
    singletons (no near-dup pair) produce no row."""
    from cadastre_pg_spark.operators.dedup import keep_best

    base = " ".join(f"w{k}" for k in range(30))
    longer = base + " extra"
    rows = [
        (5, base),            # cluster {5, 2, 7}: 2 is longest
        (2, longer),
        (7, base),
        (9, " ".join(f"z{k}" for k in range(30))),  # singleton
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.cluster, r.survivor_id, r.n_docs, r.survivor_tokens)
        for r in keep_best(docs, threshold=0.8).collect()
    ]
    assert got == [(2, 2, 3, 31)]


def test_keep_best_tie_lowest_id(spark):
    from cadastre_pg_spark.operators.dedup import keep_best

    base = " ".join(f"w{k}" for k in range(30))
    docs = spark.createDataFrame(
        [(4, base), (3, base)], "doc_id long, text string"
    )
    got = keep_best(docs, threshold=0.8).collect()
    assert [(r.survivor_id, r.n_docs) for r in got] == [(3, 2)]
