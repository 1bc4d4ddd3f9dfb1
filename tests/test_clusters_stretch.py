"""Duplicate-cluster connected components (dedup end-step) and the
L17 baseline stretch / dominant-line kernels."""

from __future__ import annotations

import numpy as np

from pero_ocr_spark.functions import geometry as G
from pero_ocr_spark.operators import dedup


def test_duplicate_clusters_transitive(spark):
    # chain 1-2-3 plus pair 10-11: components {1,2,3} and {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_duplicate_clusters_paths_agree(spark, monkeypatch):
    # the size gate must be invisible: the distributed connected-
    # components path (forced via DRIVER_EDGE_CAP=0) and the driver
    # union-find path produce identical labelings
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    fast = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    monkeypatch.setattr(dedup, "DRIVER_EDGE_CAP", 0)
    dist = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert fast == dist and fast


def test_duplicate_clusters_long_chain_converges(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 9


class TestStretch:
    def test_stretch_to_region(self):
        b = np.array([[20.0, 50.0], [80.0, 50.0]])
        out = G.stretch_baseline(b, x0=0.0, x1=100.0)
        assert out[0, 0] == 0.0 and out[-1, 0] == 100.0
        assert out[0, 1] == 50.0  # y untouched

    def test_stretch_capped(self):
        b = np.array([[20.0, 50.0], [80.0, 50.0]])
        out = G.stretch_baseline(b, x0=0.0, x1=100.0, max_extend=5.0)
        assert out[0, 0] == 15.0 and out[-1, 0] == 85.0

    def test_no_shrink(self):
        b = np.array([[0.0, 50.0], [100.0, 50.0]])
        out = G.stretch_baseline(b, x0=20.0, x1=80.0)
        assert out[0, 0] == 0.0 and out[-1, 0] == 100.0

    def test_dominant_line(self):
        wide = np.array([[0.0, 30.0], [90.0, 30.0]])
        narrow = np.array([[0.0, 10.0], [20.0, 10.0]])
        assert G.dominant_line([narrow, wide], [(10, 4), (10, 4)]) == 1
        # tie on width → smaller y wins
        wide2 = np.array([[0.0, 5.0], [90.0, 5.0]])
        assert G.dominant_line([wide, wide2], [(10, 4), (10, 4)]) == 1
