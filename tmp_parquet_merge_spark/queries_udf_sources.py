"""SURVEY §2 inventory closers: set-op union, vectorized pandas UDFs,
grouped custom aggregation (applyInPandas), and non-parquet sources
(CSV / JSON lines) — the full source/sink matrix Spark gives the
engine beyond the reference's parquet-only surface.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from tmp_parquet_merge_spark.registry import query, t

_SCRATCH: dict[str, str] = {}


def _scratch(prefix: str) -> str:
    """Per-process cached temp dir for the eager-write roundtrip
    queries.  The write itself is intentionally charged to the measured
    roundtrip (the operator IS sink+source, matching all five format
    legs), but repeated builds — bench min-merge sweeps, driver_sim,
    check_oracle — must reuse ONE directory per format instead of
    leaking a fresh mkdtemp per call (``mode("overwrite")`` handles the
    reuse)."""
    d = _SCRATCH.get(prefix)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix=prefix)
        _SCRATCH[prefix] = d
    return d


@query(
    "q_union_files",
    bench=False,
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        UNION
        SELECT o_custkey AS custkey FROM orders
    """,
)
def q_union_files(spark, sf_dir):
    """Set-op UNION (distinct) across two sources — with q_merge_files
    (UNION ALL of file reads) this completes the union family."""
    c = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.union(o).distinct()


@query(
    "q_udf_pandas",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6)
                   AS charge
        FROM lineitem
    """,
)
def q_udf_pandas(spark, sf_dir):
    """Vectorized (Arrow) pandas UDF — the idiomatic descendant of the
    reference's Arrow interop (parquet-arrow/src/reader-writer.cc):
    whole columnar batches cross to numpy, compute vectorized, return.
    Same row math as the JVM expression, so it IS oracle-checkable —
    demonstrating the UDF boundary costs no correctness."""

    @pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return pd.Series(
            np.round(price.values * (1 - disc.values) * (1 + tax.values), 6)
        )

    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


@query(
    "q_grouped_apply",
    oracle="""
        SELECT l_returnflag,
               round(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_qty,
               round(regr_intercept(l_extendedprice, l_quantity), 4) AS base_price,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_grouped_apply(spark, sf_dir):
    """Custom grouped aggregation via applyInPandas (a UDAF Spark lacks
    as a built-in composition here: per-group OLS fit).  Each group's
    rows stream to one worker as Arrow batches; at 100 TB this holds
    when groups are bounded (or pre-aggregated moments make it a plain
    groupBy — the moment-based twin is what regr_slope does)."""

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x, y = pdf["l_quantity"].values, pdf["l_extendedprice"].values
        slope, intercept = np.polyfit(x.astype(float), y.astype(float), 1)
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "price_per_qty": [round(float(slope), 4)],
                "base_price": [round(float(intercept), 4)],
                "n": [len(pdf)],
            }
        )

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        fit,
        schema="l_returnflag string, price_per_qty double, base_price double, n long",
    )


@query(
    "q_csv_roundtrip",
    bench=False,
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def q_csv_roundtrip(spark, sf_dir):
    """CSV sink+source roundtrip (header, schema re-applied on read) —
    the text-format leg of the source/sink matrix.  Oracle compares the
    roundtripped rows against the original table."""
    out = os.path.join(_scratch("tpms_csv_"), "nation_csv")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.write.mode("overwrite").option("header", "true").csv(out)
    return (
        spark.read.option("header", "true")
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .csv(out)
    )


@query(
    "q_orc_roundtrip",
    oracle="""
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
)
def q_orc_roundtrip(spark, sf_dir):
    """ORC sink+source roundtrip — the columnar-format sibling in the
    source/sink matrix (Spark's native ORC datasource: predicate
    pushdown + column pruning, same as parquet).  Oracle compares the
    roundtripped rows against the original table (DuckDB reads the
    parquet original; the ORC file is the Spark-side leg)."""
    out = os.path.join(_scratch("tpms_orc_"), "supplier_orc")
    s = t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    s.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "q_json_roundtrip",
    bench=False,
    oracle="""
        SELECT r_regionkey, r_name FROM region
    """,
)
def q_json_roundtrip(spark, sf_dir):
    """JSON-lines sink+source roundtrip — the semi-structured leg of
    the source/sink matrix."""
    out = os.path.join(_scratch("tpms_json_"), "region_json")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    r.write.mode("overwrite").json(out)
    return spark.read.schema("r_regionkey bigint, r_name string").json(out)


@query(
    "q_binary_ingest",
    oracle="""
        WITH d AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 64)
        SELECT 'doc_' || doc_id || '.txt' AS fname,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS digest
        FROM d
    """,
)
def q_binary_ingest(spark, sf_dir):
    """Raw-file ingestion via the ``binaryFile`` datasource — the entry
    point a multimodal pipeline uses to lift an object store of
    image/audio/document blobs into (path, length, content) rows before
    any decode step.  The measured operator is the distributed read +
    per-file digest; at 100 TB each executor reads its own file split
    listing (no driver materialization) and `pathGlobFilter`/partitioned
    layouts prune the listing.  The 64-file fixture is staged
    driver-side from the lowest doc_ids (fixture creation, not the
    operator); the oracle recomputes byte length and sha256 from the
    same documents, proving content fidelity end to end."""
    out = _scratch("tpms_bin_")
    for stale in os.listdir(out):  # manual writes: overwrite mode can't
        os.unlink(os.path.join(out, stale))  # clear a prior sf's fixture
    fixture = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(64)
        .collect()
    )
    for r in fixture:
        with open(os.path.join(out, f"doc_{r.doc_id}.txt"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    bf = spark.read.format("binaryFile").load(out)
    return bf.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.sha2("content", 256).alias("digest"),
    )


@query(
    "q_udf_arrow",
    oracle="""
        SELECT l_orderkey,
               CAST(l_quantity * 2 AS DOUBLE) AS qty2,
               length(l_shipmode_like) AS flag_len
        FROM (
            SELECT l_orderkey, l_quantity,
                   CAST(l_returnflag AS VARCHAR) || CAST(l_linestatus AS VARCHAR)
                       AS l_shipmode_like
            FROM lineitem
        )
    """,
)
def q_udf_arrow(spark, sf_dir):
    """``mapInArrow`` — the zero-copy end of the Python-boundary
    matrix (pandas_udf / applyInPandas / mapInPandas / mapInArrow):
    whole Arrow RecordBatches cross the boundary and are transformed
    with ``pyarrow.compute`` kernels, never materializing pandas
    objects.  This is the reference's Arrow interop surface
    (parquet-arrow/src/reader-writer.cc) driven from Python at batch
    granularity.  Same arithmetic as the SQL oracle, so the boundary
    is correctness-checked."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def double_qty(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            qty2 = pc.multiply(
                pc.cast(tbl.column("l_quantity"), pa.float64()), 2.0
            )
            flag = pc.binary_join_element_wise(
                pc.cast(tbl.column("l_returnflag"), pa.string()),
                pc.cast(tbl.column("l_linestatus"), pa.string()),
                "",
            )
            out = pa.table(
                {
                    "l_orderkey": tbl.column("l_orderkey"),
                    "qty2": qty2,
                    "flag_len": pc.cast(
                        pc.utf8_length(flag), pa.int32()
                    ),
                }
            )
            yield from out.to_batches()

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"
    )
    return li.mapInArrow(
        double_qty,
        "l_orderkey long, qty2 double, flag_len int",
    )


@query(
    "q_text_roundtrip",
    oracle="""
        SELECT n_nationkey, n_name FROM nation
    """,
)
def q_text_roundtrip(spark, sf_dir):
    """Plain-text sink+source roundtrip (``spark.read.text`` — one
    line per record, the rawest leg of the source/sink matrix and the
    entry format of every raw-crawl pipeline): rows serialized as
    delimited lines, read back as ``value`` strings, fields recovered
    with a codegen split.  Oracle compares the parsed rows against the
    original table (the TPC-H name domain is delimiter-free, so the
    roundtrip is lossless by construction)."""
    out = os.path.join(_scratch("tpms_text_"), "nation_txt")
    n = t(spark, sf_dir, "nation").select(
        F.concat_ws("|", F.col("n_nationkey"), F.col("n_name")).alias("value")
    )
    n.write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), r"\|", 2)
    return lines.select(
        F.element_at(parts, 1).cast("bigint").alias("n_nationkey"),
        F.element_at(parts, 2).alias("n_name"),
    )


@query(
    "q_grouped_apply_moments",
    oracle="""
        SELECT l_returnflag,
               round(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_qty,
               round(regr_intercept(l_extendedprice, l_quantity), 4) AS base_price,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_grouped_apply_moments(spark, sf_dir):
    """The JVM moments twin of q_grouped_apply — SAME output, same
    oracle, zero Python: the per-group OLS fit as built-in
    regr_slope/regr_intercept (map-side-combinable moment aggregates
    inside whole-stage codegen) instead of streaming every group's
    raw rows to a Python worker through Arrow.  This pair IS the
    Python-boundary policy measured side by side (the q_percentiles /
    q_agg_sketch pattern): q_grouped_apply demonstrates the
    applyInPandas escape hatch and pays the Arrow transfer (the 25×
    sweep's max ratio, 13.6 — each l_returnflag group is one Python
    worker's stream); this twin is what a 100 TB pipeline should run
    when the per-group computation reduces to moments."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.expr("regr_slope(l_extendedprice, l_quantity)"), 4
        ).alias("price_per_qty"),
        F.round(
            F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4
        ).alias("base_price"),
        F.count(F.lit(1)).alias("n"),
    )
