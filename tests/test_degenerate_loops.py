"""The driver-side iterative operators (PageRank, BPE training, k-means)
on degenerate inputs: copies of the sf0.001 tables cut to 0 and to 1
row, schemas kept.  Queries with an oracle must return DuckDB's answer;
k-means (rows-only) must return one row per point — none for no points.
"""

import os

import duckdb
import pyarrow.parquet as pq
import pytest

from tools.check_oracle import norm_rows
from tmp_parquet_merge_spark.queries import REGISTRY
from tmp_parquet_merge_spark.registry import TABLES, register_duckdb_views


@pytest.fixture(scope="module", params=[0, 1], ids=["rows0", "rows1"])
def cut_dir(request, tmp_path_factory, sf_dir):
    n = request.param
    out = tmp_path_factory.mktemp(f"rows{n}")
    for name in TABLES:
        tbl = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        pq.write_table(tbl.slice(0, n), str(out / f"{name}.parquet"))
    return n, str(out)


@pytest.mark.parametrize("name", ["q_pagerank", "q_bpe_train", "q_bpe_apply"])
def test_oracle_parity_on_cut_tables(spark, cut_dir, name):
    _, d = cut_dir
    q = REGISTRY[name]
    sdf = q.build(spark, d)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    register_duckdb_views(con, d)
    res = con.execute(q.oracle)
    ocols, orows = [c[0] for c in res.description], res.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert norm_rows(scols, srows) == norm_rows(ocols, orows)


def test_pagerank_has_no_rows_without_pairs(spark, cut_dir):
    # neither 0 nor 1 lineitem row yields a co-purchase pair
    _, d = cut_dir
    assert REGISTRY["q_pagerank"].build(spark, d).collect() == []


def test_kmeans_one_row_per_point(spark, cut_dir):
    n, d = cut_dir
    rows = REGISTRY["q_kmeans"].build(spark, d).collect()
    assert len(rows) == n
    for r in rows:
        # one point is its own centroid: converged after one round
        assert (r.cluster, r.n_iter, r.final_shift, r.converged) == (
            0,
            1,
            0.0,
            True,
        )
