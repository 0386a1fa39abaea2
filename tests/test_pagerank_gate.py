"""Both sides of graph.pagerank's ``driver_state_max_edges`` gate agree.

With the gate at 0 every non-empty graph takes the persisted sort-merge
loop; at the default the toy graphs take the driver path.  Ranks and
iteration counts must be identical, and match the dense NumPy reference
of tests/test_graph.py, including the dangling-mass and ``tol`` exits.
"""

import pytest

from test_graph import _numpy_pagerank
from tmp_parquet_merge_spark.operators import graph

# 0→1→2→3 plus a 4→0 back-edge; node 3 is dangling
CHAIN = [(0, 1), (1, 2), (2, 3), (4, 0)]
# symmetrized K3: the uniform start is the fixpoint, so tol exits at 1
K3 = [(a, b) for a in range(3) for b in range(3) if a != b]


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src: long, dst: long")
    return {r.node: (r.rank, r.n_iter) for r in graph.pagerank(df, **kw).collect()}


@pytest.mark.parametrize(
    "edges, n, max_iter, checkpoint_every",
    [
        (CHAIN, 5, 10, 1),  # round budget runs out
        (CHAIN, 5, 200, 1),  # tol exit with a dangling node
        (CHAIN, 5, 200, 3),  # tol checked on checkpointed rounds only
        (K3, 3, 10, 1),  # tol exit after one round
    ],
    ids=["chain", "chain-tol", "chain-tol-ckpt3", "k3"],
)
def test_gate_sides_agree(spark, edges, n, max_iter, checkpoint_every):
    kw = dict(damping=0.85, max_iter=max_iter, checkpoint_every=checkpoint_every)
    driver = _ranks(spark, edges, **kw)
    sort_merge = _ranks(spark, edges, driver_state_max_edges=0, **kw)
    assert driver == sort_merge
    if checkpoint_every == 1:
        ref, ref_it = _numpy_pagerank(n, edges, damping=0.85, iters=max_iter)
        assert set(driver) == set(range(n))
        for node, (rank, n_iter) in driver.items():
            assert rank == pytest.approx(ref[node], abs=1e-6)
            assert n_iter == ref_it
    if edges is K3:
        assert {it for _, it in driver.values()} == {1}
    elif max_iter == 200:
        assert all(it < max_iter for _, it in driver.values())


def test_empty_graph_has_no_rows(spark):
    df = spark.createDataFrame([], "src: long, dst: long")
    assert graph.pagerank(df).collect() == []
    assert graph.pagerank(df, driver_state_max_edges=-1).collect() == []
