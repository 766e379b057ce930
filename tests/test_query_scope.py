"""A catalog query's caches belong to that query alone.

Each query's operator-level persists live in its own scope, freed when
its result DataFrame is garbage-collected. So a query built, then left
unexecuted while other queries are built (in this thread or another),
still executes correctly, and a query whose construction fails leaves
no cache behind.
"""

from __future__ import annotations

import threading

import pytest

from mapreduce_word2vec_spark.oracle import canonicalize, compare
from mapreduce_word2vec_spark.plans import catalog
from tests.conftest import SF_SMOKE

# Every catalog name that reaches an iterative operator (pagerank,
# label propagation, k-core, BFS, connected components, BPE training),
# plus the shingle-caching dedup_ngram_jaccard.
ITERATIVE = (
    "graph_pagerank",
    "graph_label_propagation",
    "graph_kcore",
    "graph_bfs_contamination",
    "dedup_clusters",
    "dedup_survivors",
    "dedup_cluster_sizes",
    "tokenizer_bpe_train",
    "tokenizer_bpe_fertility",
    "tokenizer_bpe_contract",
    "dedup_ngram_jaccard",
)
OTHER = "q6_forecast_revenue"


def _canon(df):
    return canonicalize(df.columns, [tuple(r) for r in df.collect()])


def _persistent_rdds(spark) -> set[int]:
    # compared as id sets against a snapshot: a cache freed while another
    # query's plan still referenced it can be re-persisted by that plan
    # and linger until the JVM collects it, so absolute counts would
    # depend on the tests that ran before
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize("name", ITERATIVE)
def test_build_a_build_b_execute_a(spark, duck, name):
    q = catalog.all_queries()[name]
    expected = None if q.oracle else _canon(q.fn(spark, SF_SMOKE))
    a = q.fn(spark, SF_SMOKE)
    catalog.queries()[OTHER](spark, SF_SMOKE)  # build B, never executed
    if q.oracle:
        res = compare(name, a, q.oracle, duck)
        assert res.match, res.mismatches
    else:
        assert _canon(a) == expected


def test_connected_components_long_path_survives_other_queries(spark):
    """A 10-node path needs 10 rounds to converge, so every step's
    cache is rolled over many times (and the plan must not grow
    exponentially with the rounds); building a catalog query between
    construction and the action must not disturb the result."""
    from mapreduce_word2vec_spark.operators.graph import connected_components

    n = 10
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    before = _persistent_rdds(spark)
    comps = connected_components(edges)  # outside a scope: caller-owned
    catalog.queries()[OTHER](spark, SF_SMOKE)
    got = {r["node"]: r["component"] for r in comps.collect()}
    assert got == {i: 0 for i in range(n)}
    # rolled-over steps were unpersisted as the loop advanced: only the
    # symmetrized edges and the final step are still cached
    assert len(_persistent_rdds(spark) - before) == 2
    spark.catalog.clearCache()


def test_pagerank_while_another_thread_builds_queries(spark, duck):
    q = catalog.all_queries()["graph_pagerank"]
    qs = catalog.queries()
    done = threading.Event()
    errors: list[BaseException] = []

    def build_others():
        try:
            while not done.is_set():
                qs[OTHER](spark, SF_SMOKE)
                qs["dedup_ngram_jaccard"](spark, SF_SMOKE)
        except BaseException as e:  # surfaced by the main thread
            errors.append(e)

    builder = threading.Thread(target=build_others)
    builder.start()
    try:
        for _ in range(3):
            res = compare(q.name, q.fn(spark, SF_SMOKE), q.oracle, duck)
            assert res.match, res.mismatches
    finally:
        done.set()
        builder.join(timeout=300)
    assert not builder.is_alive()
    assert not errors, errors


def test_scope_released_when_construction_fails(spark):
    from mapreduce_word2vec_spark.runtime import tracked_persist

    name = "_failing_after_persist"
    catalog.all_queries()  # load the catalog before registering

    @catalog.register(name)
    def failing(spark, sf_dir):
        tracked_persist(spark.range(10)).count()
        raise RuntimeError("construction failed")

    before = _persistent_rdds(spark)
    try:
        with pytest.raises(RuntimeError, match="construction failed"):
            catalog.all_queries()[name].fn(spark, SF_SMOKE)
    finally:
        del catalog._REGISTRY[name]
    assert not _persistent_rdds(spark) - before
