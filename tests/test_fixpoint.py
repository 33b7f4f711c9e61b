"""The fixpoint loop runner (operators/fixpoint.py) and the entries that
run on it.

Failure injection: the round-body hook ``fixpoint.HOOK`` raises in
round 2 (in round 1 for the one entry that runs a single round at
sf0.001), and no staged relation may stay in Spark's CacheManager
afterwards.  A normal build plus ``collect()`` must leave it empty too.
Runs at sf0.001.
"""

from __future__ import annotations

import pytest

from state_economics_end_to_end_data_pipeline_spark.operators import fixpoint
from state_economics_end_to_end_data_pipeline_spark.operators.dedup import (
    cluster_labels,
)
from state_economics_end_to_end_data_pipeline_spark.plans import load_all

# entry -> the round whose body the hook fails
LOOPED = {
    "graph_connected_components": 2,
    "coreness_hindex": 2,
    "scc_event_types": 2,
    "truss_edges_k3": 2,
    "densest_subgraph_peel": 2,
    "mis_parts_luby": 2,
    "graph_bfs_hops": 2,
    "harmonic_centrality_sample": 2,
    "lpa_communities_3iter": 2,
    # its near-dup clusters converge in the first round at sf0.001
    "dedup_cluster_survivors": 1,
}


class RoundFailure(Exception):
    pass


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _run(spark, sf_dir, name):
    return load_all()[name].fn(spark, sf_dir).collect()


@pytest.mark.parametrize("name", LOOPED)
def test_failure_mid_loop_releases_staged_edges(spark, sf_dir, name, monkeypatch):
    calls: dict[str, int] = {}

    def hook(tag, body):
        calls[tag] = calls.get(tag, 0) + 1
        if calls[tag] == LOOPED[name]:
            raise RoundFailure(tag)

    spark.catalog.clearCache()
    monkeypatch.setattr(fixpoint, "HOOK", hook)
    with pytest.raises(RoundFailure):
        _run(spark, sf_dir, name)
    assert _cache_empty(spark), name


@pytest.mark.parametrize(
    "name", [*LOOPED, "graph_modularity_brands", "kcore_parts", "dedup_semantic_clusters"]
)
def test_build_and_collect_releases_staged_edges(spark, sf_dir, name):
    spark.catalog.clearCache()
    assert _run(spark, sf_dir, name)
    assert _cache_empty(spark), name


def test_rounds_carry_job_description_and_keep_job_group(spark, sf_dir, monkeypatch):
    sc = spark.sparkContext
    seen: list[str] = []
    monkeypatch.setattr(
        fixpoint, "HOOK",
        lambda tag, body: seen.append(sc.getLocalProperty("spark.job.description")),
    )
    sc.setJobGroup("fixpoint-description", "caller")
    try:
        load_all()["graph_connected_components"].fn(spark, sf_dir)
        assert sc.getLocalProperty("spark.jobGroup.id") == "fixpoint-description"
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen[0] == "min_label_components/round 1"
    assert seen[1] == "min_label_components/round 2"


def test_cluster_labels_raises_instead_of_returning_unconverged_labels(spark):
    # a 61-node path needs ~60 propagation rounds, far past the cap
    pairs = spark.createDataFrame([(i, i + 1) for i in range(60)], ["id_a", "id_b"])
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="cluster_labels: not converged"):
        cluster_labels(pairs)
    assert _cache_empty(spark)


def _countdown(state, rnd):
    """A loop without Spark work: the value halves each round, 8 -> 4 ->
    2 -> 1 -> 0 -> 0; the state lists the rounds run."""
    state = [*state, rnd.number]
    return state, 8 >> len(state)


def test_fixpoint_counts_changing_rounds_only(spark):
    # four changing rounds, then a fifth that leaves the value unchanged
    # and is not counted
    state, rounds = fixpoint.fixpoint(
        "countdown", [], 8, _countdown, cap=10, rounds_key="__test_countdown"
    )
    assert state == [1, 2, 3, 4, 5]
    assert rounds == 4
    assert fixpoint.LAST_ROUNDS.pop("__test_countdown") == 4


def test_fixpoint_until_counts_every_round(spark):
    state, rounds = fixpoint.fixpoint(
        "countdown", [], 8, _countdown, cap=10, until=lambda v: v == 0
    )
    assert state == [1, 2, 3, 4]
    assert rounds == 4


def test_fixpoint_cap_raises_and_restores_description(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "outer")
    try:
        with pytest.raises(RuntimeError, match="countdown: not converged after 2 rounds"):
            fixpoint.fixpoint("countdown", [], 8, _countdown, cap=2)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)
