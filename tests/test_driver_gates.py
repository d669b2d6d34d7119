"""Cross-path equality for the r8 size-gated driver fallbacks.

connected_components / pagerank each run a driver-side kernel below a
size gate (CC_DRIVER_MAX_EDGES / PR_DRIVER_MAX_EDGES) and the unchanged
distributed algorithm above it. The driver's larger scale factors can
cross a gate that the local fixtures never do, so the equality of the
two paths IS the correctness claim — these tests pin it by
monkeypatching each gate to -1 (forcing the distributed path) and
asserting bit-identical output against the default (driver) path on
the same inputs, including the adversarial shapes (high-diameter
chains for CC, dangling nodes for pagerank).
"""

import pytest
from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.operators import dedup as D
from companycatalogcrawlerparser_spark.operators import linkgraph as LG


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def _lcg_edges(n_nodes=60, n_edges=45, seed=12345):
    x, edges = seed, []
    for _ in range(n_edges):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = x % n_nodes
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = x % n_nodes
        if a != b:
            edges.append((a, b))
    # adversarial high-diameter path, descending so min is at the end
    edges += [(i + 1, i) for i in range(40, 52)]
    return edges


class TestCCGate:
    def test_distributed_equals_driver(self, spark, monkeypatch):
        pairs = _pairs(spark, _lcg_edges())
        driver = {
            r["node"]: r["component"]
            for r in D.connected_components(pairs).collect()
        }
        monkeypatch.setattr(D, "CC_DRIVER_MAX_EDGES", -1)
        dist = {
            r["node"]: r["component"]
            for r in D.connected_components(pairs).collect()
        }
        assert dist == driver
        assert len(driver) > 0

    def test_distributed_equals_driver_chain(self, spark, monkeypatch):
        # pure chain: the worst case for star-contraction round count
        pairs = _pairs(spark, [(i + 1, i) for i in range(30)])
        driver = {
            r["node"]: r["component"]
            for r in D.connected_components(pairs).collect()
        }
        monkeypatch.setattr(D, "CC_DRIVER_MAX_EDGES", -1)
        dist = {
            r["node"]: r["component"]
            for r in D.connected_components(pairs).collect()
        }
        assert dist == driver == {i: 0 for i in range(31)}


class TestPageRankGate:
    def test_distributed_equals_driver(self, spark, monkeypatch):
        # LCG digraph + a dangling sink (in-edges only) + a source
        edges = [(a, b) for a, b in _lcg_edges()] + [(0, 99), (98, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        driver = {
            r["node"]: r["rank_q"]
            for r in LG.pagerank(df, iters=3).collect()
        }
        monkeypatch.setattr(LG, "PR_DRIVER_MAX_EDGES", -1)
        dist = {
            r["node"]: r["rank_q"]
            for r in LG.pagerank(df, iters=3).collect()
        }
        # fixed-point integer arithmetic: bit-identical, not approximate
        assert dist == driver
        assert 99 in driver

    def test_distributed_equals_driver_zero_iters(self, spark, monkeypatch):
        df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        driver = sorted(
            tuple(r) for r in LG.pagerank(df, iters=0).collect()
        )
        monkeypatch.setattr(LG, "PR_DRIVER_MAX_EDGES", -1)
        dist = sorted(tuple(r) for r in LG.pagerank(df, iters=0).collect())
        assert dist == driver
