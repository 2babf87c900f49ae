"""Near-dup clustering: connected components + keep-one corpus filter."""

import pytest
from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
    dedup,
)


@pytest.fixture()
def graph(spark):
    # components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (edge)
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_components_label_by_min_member(spark, graph):
    got = {r.doc_id: r.component_id
           for r in dedup.connected_components(graph).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}
    dedup.release_caches()


def test_components_converge_on_long_chain(spark, monkeypatch):
    """A 64-node chain has diameter 63 — pointer jumping must converge in
    O(log diameter) rounds (~8), nowhere near the naive ~diameter count.
    (UF_BREAK_MAX=0 so the driver union-find doesn't close the tiny graph
    before the distributed rounds run.)"""
    monkeypatch.setattr(dedup, "UF_BREAK_MAX", 0)
    monkeypatch.setattr(dedup, "CC_MAX_ITERS", 12)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long")
    got = dedup.connected_components(chain).collect()
    assert {r.component_id for r in got} == {0}
    assert len(got) == 64
    dedup.release_caches()


def test_components_raise_instead_of_partial_labels(spark, monkeypatch):
    # the driver union-find would (correctly) close a tiny residual graph,
    # so disable it to exercise the distributed non-convergence guard
    monkeypatch.setattr(dedup, "UF_BREAK_MAX", 0)
    monkeypatch.setattr(dedup, "CC_MAX_ITERS", 2)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="converge"):
        dedup.connected_components(chain)
    dedup.release_caches()


def test_long_chain_closed_by_driver_union_find(spark, monkeypatch):
    # same 30-node chain and round budget, default UF_BREAK_MAX: the
    # symmetrized edge set is already under it, so the r7 EARLY driver
    # union-find closes it with zero Spark rounds — every node still
    # lands in the single min-labelled component
    monkeypatch.setattr(dedup, "CC_MAX_ITERS", 2)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long")
    comps = dedup.connected_components(chain)
    rows = comps.collect()
    assert {r.component_id for r in rows} == {0}
    assert len(rows) == 31
    assert dedup.CC_LAST_STATS.get("driver_uf_edges", 0) > 0
    dedup.release_caches()


def test_keep_canonical_filters_non_canonical_members(spark, graph):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]],
        "doc_id long, text string")
    comps = dedup.connected_components(graph)
    kept = sorted(r.doc_id for r in dedup.keep_canonical(docs, comps).collect())
    # canonical member of each cluster + the unclustered doc survive
    assert kept == [1, 10, 20, 99]
    dedup.release_caches()


def test_no_residual_caches_after_components(spark, graph):
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    dedup.connected_components(graph).collect()
    dedup.release_caches()
    after = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    assert after - before == set()


def test_components_empty_pair_set_returns_empty(spark, monkeypatch):
    """An all-unique corpus has no pairs: it closes on the early driver
    path at any bound, 0 included, with no rounds and no edges."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    for uf_break_max in (dedup.UF_BREAK_MAX, 0):
        monkeypatch.setattr(dedup, "UF_BREAK_MAX", uf_break_max)
        assert dedup.connected_components(empty).collect() == []
        st = dedup.CC_LAST_STATS
        assert st["rounds"] == 0 and st["edge_counts"] == [0, 0]
        dedup.release_caches()


def test_components_match_union_find_on_random_graphs(spark, monkeypatch):
    """Property: the labelling equals a reference union-find on seeded
    random graphs (mix of sparse chains and dense blobs) on every path:
    the early driver union-find (default UF_BREAK_MAX), the loop handing
    its residual to the driver (a bound below the pair count) and the
    loop with its jump epilogue alone (bound 0)."""
    import random

    def union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    default = dedup.UF_BREAK_MAX
    rng = random.Random(1234)
    for trial in range(3):
        n = rng.randint(30, 120)
        m = rng.randint(n // 2, n * 2)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) if a < b else (b, a) for a, b in edges if a != b]
        if not edges:
            continue
        expected = union_find(edges)
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        for bound in (default, len(edges) - 1, 0):
            monkeypatch.setattr(dedup, "UF_BREAK_MAX", bound)
            got = {r.doc_id: r.component_id
                   for r in dedup.connected_components(df).collect()}
            assert got == expected, f"trial {trial}, bound {bound}"
            st = dedup.CC_LAST_STATS
            assert (st["rounds"] == 0) == (bound == default)
            dedup.release_caches()


def test_components_localcheckpoint_path_on_large_graph(spark, monkeypatch):
    """250k nodes crosses collect_break_max, so the per-round leaf resets
    take the localCheckpoint tier instead of the driver round-trip — the
    path a 10^12-row corpus would live on. Star clusters of 10 converge on
    the round-1 fast path; every node must be labelled with its hub.
    (UF_BREAK_MAX=0: 225k pairs would otherwise be closed by the early
    driver union-find and never enter the loop.)"""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    monkeypatch.setattr(dedup, "UF_BREAK_MAX", 0)
    calls = []
    local_checkpoint = ClassicDataFrame.localCheckpoint

    def counted(self, *args, **kwargs):
        calls.append(1)
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", counted)
    n = 250_000
    edges = spark.range(n).selectExpr(
        "id AS doc_a", "id - (id % 10) AS doc_b").filter("doc_a != doc_b")
    comps = dedup.connected_components(edges)
    assert comps.count() == n
    wrong = comps.filter(
        F.col("component_id") != F.col("doc_id") - (F.col("doc_id") % 10)
    ).count()
    assert wrong == 0
    st = dedup.CC_LAST_STATS
    assert st["rounds"] == 1 and st["fastpath"] is True
    assert len(calls) >= 1
    dedup.release_caches()


def test_cc_stats_record_fastpath_and_rounds(spark, monkeypatch):
    """CC_LAST_STATS observability: a clique converges on the round-1 fast
    path; a long chain takes multiple rounds with a shrinking edge set.
    (UF_BREAK_MAX=0: the distributed paths are what this test pins; small
    graphs otherwise take the r7 early driver union-find.)"""
    monkeypatch.setattr(dedup, "UF_BREAK_MAX", 0)
    clique = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(a + 1, 6)],
        "doc_a long, doc_b long")
    dedup.connected_components(clique).collect()
    assert dedup.CC_LAST_STATS["fastpath"] is True
    assert dedup.CC_LAST_STATS["rounds"] == 1
    dedup.release_caches()

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long")
    dedup.connected_components(chain).collect()
    st = dedup.CC_LAST_STATS
    assert st["fastpath"] is False and st["rounds"] >= 2
    counts = st["edge_counts"]
    assert counts[0] == 126 and counts[-1] == 0
    assert all(b < a for a, b in zip(counts, counts[1:]))  # strictly shrinks
    dedup.release_caches()


def _mixed_graph(spark):
    edges = (
        [(i, i + 1) for i in range(0, 20)]              # 21-node chain
        + [(a, b) for a in range(100, 106)
           for b in range(a + 1, 106)]                  # 6-clique
        + [(200, 201), (300, 350)]                      # isolated edges
    )
    return edges, spark.createDataFrame(edges, "doc_a long, doc_b long")


def _labels(g, **kw):
    got = {(r.doc_id, r.component_id)
           for r in dedup.connected_components(g, **kw).collect()}
    dedup.release_caches()
    return got


def test_early_driver_uf_matches_distributed_labels(spark, monkeypatch):
    """r7 early-path pin: on a mixed graph (chains + cliques + isolated
    edges) the early driver union-find must produce EXACTLY the labels the
    distributed contraction loop produces."""
    edges, g = _mixed_graph(spark)
    early = _labels(g)
    assert dedup.CC_LAST_STATS["rounds"] == 0
    assert dedup.CC_LAST_STATS["driver_uf_edges"] == 2 * len(edges)
    monkeypatch.setattr(dedup, "UF_BREAK_MAX", 0)
    assert early == _labels(g)


def test_early_driver_uf_matches_distributed_labels_canonical(spark,
                                                              monkeypatch):
    """The canonical twin of the test above: declared-canonical input takes
    the same early driver path, with the same labels and edge count."""
    edges, g = _mixed_graph(spark)
    early = _labels(g, pairs_canonical=True)
    assert dedup.CC_LAST_STATS["rounds"] == 0
    assert dedup.CC_LAST_STATS["driver_uf_edges"] == 2 * len(edges)
    monkeypatch.setattr(dedup, "UF_BREAK_MAX", 0)
    assert early == _labels(g, pairs_canonical=True)


def test_early_driver_uf_counts_symmetrized_distinct_edges(spark,
                                                           monkeypatch):
    """Non-canonical input (reversed duplicates, repeats, a self-loop): the
    driver counts the edges the symmetrized distinct set would hold, and
    the labels match the distributed loop's."""
    edges, _ = _mixed_graph(spark)
    messy = edges + [(b, a) for a, b in edges[:5]] + edges[-3:] + [(7, 7)]
    g = spark.createDataFrame(messy, "doc_a long, doc_b long")
    early = _labels(g)
    assert dedup.CC_LAST_STATS["rounds"] == 0
    assert dedup.CC_LAST_STATS["driver_uf_edges"] == 2 * len(edges) + 1
    assert dedup.CC_LAST_STATS["edge_counts"] == [2 * len(edges) + 1, 0]
    monkeypatch.setattr(dedup, "UF_BREAK_MAX", 0)
    assert early == _labels(g)


@pytest.mark.parametrize("canonical", [False, True])
def test_pairs_past_uf_bound_take_distributed_path(spark, monkeypatch,
                                                   canonical):
    """More pairs than UF_BREAK_MAX: the bounded collect comes back cut
    short, so the distributed loop runs (off the same persisted pairs) and
    labels exactly as the early driver path does."""
    edges, g = _mixed_graph(spark)
    early = _labels(g, pairs_canonical=canonical)
    monkeypatch.setattr(dedup, "UF_BREAK_MAX", len(edges) - 1)
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    dist = _labels(g, pairs_canonical=canonical)
    st = dedup.CC_LAST_STATS
    assert st["rounds"] >= 1
    assert st["edge_counts"][0] == 2 * len(edges)
    assert dist == early
    after = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    assert after - before == set()
