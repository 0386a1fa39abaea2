"""Query registry core — shared by every query module.

Each registered query binds a name to (a) a Spark DataFrame builder
taking ``(spark, sf_dir)`` and (b) a DuckDB oracle SQL string (or
``None`` for rows-only checks).  ``__spark_entry__.py`` exposes the
registry to the driver, which hash-compares Spark vs DuckDB results.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str
    # part of bench.py's sweep; off for surface checks a benched query
    # already exercises and for the capped exact oracle twins of the
    # benched LSH operators
    bench: bool = True
    # build() performs an eager layout write; bench.py times that write
    # as a separate ``<name>__write`` entry
    writes_layout: bool = False


REGISTRY: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None = None,
    *,
    bench: bool = True,
    writes_layout: bool = False,
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is already registered")
        doc = (fn.__doc__ or "").strip()
        REGISTRY[name] = Query(name, fn, oracle, doc, bench, writes_layout)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return events_table(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# Fact tables worth a conditional parallelism floor when their scan is
# split-deficient (single row group), and the deterministic key each
# spreads on.  Dim tables stay un-spread: they broadcast.
_FACT_SPREAD_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey"}


def t_spread(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    key: str | tuple[str, ...] | None = None,
) -> DataFrame:
    """:func:`t`, plus a conditional repartition for the fact tables
    when the scan has fewer splits than the cluster's parallelism
    (``dedup.spread_scan``; a no-op on a multi-file dataset).  Used by
    the SQL-view registration helpers so aggregate/join-heavy queries
    get cluster-parallel map sides on one-row-group local files.  Every
    aggregate in those queries uses the DECIMAL(18,6)
    order-independent sum, so the layout change cannot perturb results.
    Plain scans keep :func:`t` — a shuffle would only add cost there.

    ``key`` overrides the table's default spread key with the
    column(s) the query's first exchange clusters on, so that exchange
    reuses the spread instead of adding a second full-table shuffle.
    Only the fact tables in ``_FACT_SPREAD_KEYS`` spread; ``key`` on
    any other table raises ``ValueError``."""
    keys = _FACT_SPREAD_KEYS.get(name)
    if keys is None and key is not None:
        raise ValueError(
            f"t_spread key={key!r} given for {name!r}, which does not "
            f"spread (spread tables: {sorted(_FACT_SPREAD_KEYS)})"
        )
    df = t(spark, sf_dir, name)
    if keys is None:
        return df
    from tmp_parquet_merge_spark.operators.dedup import spread_scan

    if key is not None:
        keys = key
    if isinstance(keys, str):
        keys = (keys,)
    return spread_scan(df, *keys)


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so users can work
    purely in SQL (``spark.sql("SELECT ... FROM lineitem")``) — the
    same names the DuckDB oracle sees.  ``events`` gets the ns→µs
    timestamp normalization."""
    for name in TABLES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)


def register_duckdb_views(con, sf_dir: str) -> None:
    """Register the same table set as DuckDB views over the parquet
    files — the one place the oracle-side table list lives, so the
    parity tools (tools/check_oracle.py, tools/driver_sim.py) cannot
    drift from :data:`TABLES` when a table is added."""
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')"
        )


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` usable in Spark, tolerant of the generator's
    timestamp physical type.

    Earlier driver testdata stored ts as TIMESTAMP(NANOS,false), which
    Spark's vectorized reader rejects outright — that path reads the
    column as raw int64 nanoseconds (``spark.sql.legacy.parquet.
    nanosAsLong``) and converts explicitly.  Current testdata stores
    TIMESTAMP(MICROS); either way the column is normalized to
    TIMESTAMP_NTZ at microsecond precision, so collection never passes
    through driver-local timezone conversion and matches DuckDB's naive
    timestamps (oracle side uses ``CAST(ts AS TIMESTAMP)``, identical
    µs truncation).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type in ("bigint", "long"):  # NANOS read as raw int64 ns
        conv = F.expr("timestamp_micros(ts DIV 1000)")
    else:  # TIMESTAMP / TIMESTAMP_NTZ at µs
        conv = F.col("ts")
    return df.withColumn("ts", conv.cast("timestamp_ntz"))
