"""Connected components / keep-one dedup: exact cluster recovery on
planted graphs, convergence on chains, union-find oracle equality."""

import pandas as pd

from audio_quality_checker_spark.operators.components import (
    connected_components,
    keep_one,
)


def _pairs(spark, edges):
    return spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"])
    )


def _union_find(edges):
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
    return {x: find(x) for x in parent}


def test_components_clusters_and_chain(spark):
    # triangle {1,2,3}, chain 10-11-12-13-14 (diameter 4), pair {20,21}
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13),
             (13, 14), (20, 21)]
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(_pairs(spark, edges)).collect()
    }
    assert got == _union_find(edges)
    assert got[14] == 10 and got[3] == 1 and got[21] == 20


def test_components_matches_union_find_on_random_graph(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    edges = [
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, 400, (300, 2))
        if a != b
    ]
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(_pairs(spark, edges)).collect()
    }
    assert got == _union_find(edges)


def test_keep_one_drops_non_representatives(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 10, 11, 50], "text": list("abcdez")})
    )
    kept = sorted(
        r["doc_id"]
        for r in keep_one(docs, _pairs(spark, [(1, 2), (2, 3), (10, 11)])).collect()
    )
    # one per cluster (min id) + the isolated doc 50
    assert kept == [1, 10, 50]


def test_star_equals_minlabel_and_union_find(spark):
    """A/B: the large-star/small-star labels must equal both the
    min-label baseline and the Python union-find on a random graph."""
    import numpy as np

    from audio_quality_checker_spark.operators.components import (
        connected_components_minlabel,
    )

    rng = np.random.default_rng(7)
    edges = list({
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, 800, size=(1200, 2))
        if a != b
    })
    df = _pairs(spark, edges)
    star = {
        r["doc_id"]: r["component"]
        for r in connected_components(df).collect()
    }
    minlabel = {
        r["doc_id"]: r["component"]
        for r in connected_components_minlabel(df, max_iter=50).collect()
    }
    assert star == minlabel == _union_find(edges)


def test_hot_vertex_skew_dissolves(spark):
    """The north-rule skew case: one hub document appears in 40% of all
    pairs.  Min-label propagation re-joins the hub's full edge list on
    one key every round; the star alternation must (a) recover the exact
    components and (b) dissolve the hot group key — by the final round
    the max group-key degree must be < 2x the median (the hub stops
    funneling one reducer)."""
    import numpy as np

    rng = np.random.default_rng(13)
    hub = 99_999
    n_hub_edges = 2_000
    hub_edges = [
        (int(x), hub) for x in rng.choice(50_000, n_hub_edges, replace=False)
    ]
    sparse = list({
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(50_000, 90_000, size=(3_000, 2))
        if a != b
    })
    edges = hub_edges + sparse
    assert len(hub_edges) / len(edges) > 0.35  # genuinely hot

    rounds: list[dict] = []
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            _pairs(spark, edges), on_round=lambda i, s: rounds.append(s)
        ).collect()
    }
    assert got == _union_find(edges)
    final = rounds[-1]
    assert final["max_degree"] <= 2 * max(1, final["median_degree"]), rounds
    # and the hub really was hot in the INPUT (stats above are per-round
    # outputs — the first alternation may already dissolve it)
    from collections import Counter

    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    degs = sorted(deg.values())
    assert degs[-1] > 100 * degs[len(degs) // 2]


def test_nonconvergence_raises(spark):
    """Round-3 advice: split components must never be returned silently."""
    import pytest

    edges = [(i, i + 1) for i in range(0, 40)]
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(_pairs(spark, edges), max_iter=1)


def test_keep_one_equals_minlabel_survivors(spark):
    """keep_one takes its losers straight from the converged star edges;
    its survivors must equal those of the min-label baseline labels
    (plus every document in no pair) on random graphs."""
    import numpy as np

    from audio_quality_checker_spark.operators.components import (
        connected_components_minlabel,
    )

    for seed in (3, 11):
        rng = np.random.default_rng(seed)
        edges = list({
            (int(min(a, b)), int(max(a, b)))
            for a, b in rng.integers(0, 300, size=(200, 2))
            if a != b
        })
        df = _pairs(spark, edges)
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(320)})
        )
        got = {r["doc_id"] for r in keep_one(docs, df).collect()}
        labels = connected_components_minlabel(df, max_iter=50).collect()
        losers = {r["doc_id"] for r in labels
                  if r["component"] != r["doc_id"]}
        assert got == set(range(320)) - losers


def test_job_description_labels_and_restores(spark):
    from audio_quality_checker_spark.session import job_description

    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        with job_description(spark, "inner"):
            assert sc.getLocalProperty("spark.job.description") == "inner"
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    with job_description(spark, "inner"):
        pass
    assert sc.getLocalProperty("spark.job.description") is None


def test_default_driver_memory_fits_the_host():
    import os

    from audio_quality_checker_spark.session import default_driver_memory

    mem = default_driver_memory()
    assert mem.endswith("g")
    gb = int(mem[:-1])
    assert 1 <= gb <= 48
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert gb * 2**30 <= max(phys / 2, 2**30)
