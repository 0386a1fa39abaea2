"""The benchmark's workloads: seeded inputs, ops in run order, checks.

An op runs in one of two modes.  Measured (``warm=False``): the calls
into the engine and the action that forces their result, and nothing
else.  Warm-up (``warm=True``): the same calls, with an action that
returns what :func:`Op.check` needs.  Checks run outside every timed
section.

Import this module only after the environment for Spark is set up
(``run.py`` does that): it imports the engine.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from tmp_parquet_merge_spark.queries import REGISTRY
from tmp_parquet_merge_spark.registry import TABLES
from tmp_parquet_merge_spark.sources import parquet_io as pio
from tools.check_oracle import norm_rows


@dataclass(frozen=True)
class Op:
    name: str
    layer: str
    run: Callable  # (ctx, warm) -> result passed to check
    check: Callable  # (ctx, result) -> error message or None


@dataclass
class Ctx:
    spark: object
    tracer: object
    input_dir: str
    out_dir: str
    duck: object
    facts: dict  # what the checks compare to, computed from the input alone


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# ------------------------------- llm_curation -------------------------------

LLM_OPS = (
    ("q_dedup_simhash", "operators.dedup"),
    ("q_kmeans", "operators.similarity"),
    ("q_pagerank", "operators.graph"),
    ("q_bpe_train", "operators.text"),
    ("q_topk_similarity", "operators.similarity"),
    ("q_tfidf", "operators.text"),
    ("q_grouped_apply", "udf"),
    ("q_grouped_apply_moments", "udf"),
)
LLM_SF = 0.001


def registry_op(name: str, layer: str) -> Op:
    query = REGISTRY[name]

    def run(ctx: Ctx, warm: bool):
        with ctx.tracer.span("registry.build", op=name):
            df = query.build(ctx.spark, ctx.input_dir)
        with ctx.tracer.span("spark.action", op=name):
            if warm:
                return df.columns, [tuple(r) for r in df.collect()]
            noop(df)
        return None

    def check(ctx: Ctx, result) -> str | None:
        cols, rows = result
        if query.oracle is None:
            return None if rows else "no rows"
        if isinstance(ctx.facts[name], Exception):
            return f"oracle failed: {ctx.facts[name]}"
        ocols, orows = ctx.facts[name]
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        got, want = norm_rows(cols, rows), norm_rows(ocols, orows)
        if got != want:
            diff = [(a, b) for a, b in zip(got, want) if a != b][:2]
            return f"values differ from oracle, first: {diff}"
        return None

    return Op(name, layer, run, check)


def prepare_llm(work: str, seed: int, tiny: bool) -> tuple[str, dict]:
    in_dir = os.path.join(work, "input")
    size = gen.write_tables(in_dir, LLM_SF, seed)  # already the smallest scale
    return in_dir, size


def llm_facts(input_dir: str, duck) -> dict:
    """Every op's DuckDB oracle answer, as (columns, rows)."""
    for name in TABLES:
        glob = os.path.join(input_dir, f"{name}.parquet", "*.parquet")
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
    facts = {}
    for name, _ in LLM_OPS:
        oracle = REGISTRY[name].oracle
        if oracle is not None:
            try:
                res = duck.execute(oracle)
                facts[name] = ([d[0] for d in res.description], res.fetchall())
            except duckdb.Error as exc:
                facts[name] = exc
    return facts


# -------------------------------- parquet_io --------------------------------

IO_SF = 0.1  # generated lineitem base, 600k rows
IO_FOLDS = 4  # replica: 2.4M rows, ~45 MB of Parquet
ROW_GROUP_BYTES = 2 << 20
SCATTER_ROWS = 20_000  # rows per file of the many-small-files write
SMALL_FILE_BYTES = 1 << 20
TARGET_FILE_BYTES = 16 << 20
LI_COLS = (
    "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
    "l_discount l_tax l_returnflag l_linestatus"
).split()
PROJECTED = ["l_orderkey", "l_extendedprice", "l_shipdate"]


def _paths(ctx: Ctx) -> dict[str, str]:
    o = ctx.out_dir
    return {
        "input": os.path.join(ctx.input_dir, "lineitem.parquet"),
        "written": os.path.join(o, "lake", "written"),
        "scatter": os.path.join(o, "lake", "scatter"),
        "merged": os.path.join(o, "merged"),
        "compacted": os.path.join(o, "compacted"),
    }


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def duck_fingerprint(duck, files: list[str]) -> tuple:
    """(rows, order-insensitive checksum) of lineitem rows in ``files``."""
    cols = ", ".join([*LI_COLS, "epoch_us(l_shipdate)"])
    listing = ", ".join(f"'{f}'" for f in files)
    return duck.execute(
        f"SELECT count(*), CAST(sum(hash({cols})) AS HUGEINT) "
        f"FROM read_parquet([{listing}])"
    ).fetchone()


def _same_rows(ctx: Ctx, path: str) -> str | None:
    got = duck_fingerprint(ctx.duck, parquet_files(path))
    want = ctx.facts["input"]
    return None if got == want else f"{path}: (rows, checksum) {got} != input {want}"


def _write(ctx: Ctx, warm: bool):
    p = _paths(ctx)
    with ctx.tracer.span("sources.write", op="write"):
        pio.write_parquet(
            pio.read_parquet(ctx.spark, p["input"]),
            p["written"],
            block_size_bytes=ROW_GROUP_BYTES,
        )


def _scatter(ctx: Ctx, warm: bool):
    p = _paths(ctx)
    with ctx.tracer.span("sources.write", op="scatter"):
        pio.write_parquet(
            pio.read_parquet(ctx.spark, p["input"]),
            p["scatter"],
            max_records_per_file=SCATTER_ROWS,
        )


def _merge(ctx: Ctx, warm: bool):
    p = _paths(ctx)
    with ctx.tracer.span("sources.merge", op="merge"):
        pio.merge_files(
            ctx.spark,
            [p["scatter"]],
            p["merged"],
            target_file_size_bytes=TARGET_FILE_BYTES,
            block_size_bytes=ROW_GROUP_BYTES,
        )


def _compact(ctx: Ctx, warm: bool):
    p = _paths(ctx)
    with ctx.tracer.span("sources.compact", op="compact"):
        manifest = pio.compact_incremental(
            ctx.spark,
            os.path.dirname(p["written"]),
            p["compacted"],
            small_file_bytes=SMALL_FILE_BYTES,
            target_file_size_bytes=TARGET_FILE_BYTES,
            block_size_bytes=ROW_GROUP_BYTES,
        )
        return [tuple(r) for r in manifest.collect()]


def _check_compact(ctx: Ctx, manifest) -> str | None:
    p = _paths(ctx)
    lake = parquet_files(os.path.dirname(p["written"]))
    small = {f for f in lake if os.path.getsize(f) < SMALL_FILE_BYTES}
    actions: dict[str, set] = {}
    for f, _, action in manifest:
        actions.setdefault(action, set()).add(f[5:] if f.startswith("file:") else f)
    if actions.get("compacted", set()) != small:
        return "compacted files are not the lake's small files"
    if actions.get("kept", set()) != set(lake) - small:
        return "kept files are not the lake's large files"
    got = duck_fingerprint(ctx.duck, parquet_files(p["compacted"]))
    want = duck_fingerprint(ctx.duck, sorted(small))
    return None if got == want else f"compacted (rows, checksum) {got} != small files {want}"


def _footer_op(name: str, fn, check) -> Op:
    def run(ctx: Ctx, warm: bool):
        with ctx.tracer.span("sources.footer", op=name):
            return [r.asDict() for r in fn(ctx.spark, _paths(ctx)["merged"]).collect()]

    return Op(name, "sources.footer", run, check)


def _check_metadata(ctx: Ctx, rows) -> str | None:
    n_files = len(parquet_files(_paths(ctx)["merged"]))
    total = sum(r["num_rows"] for r in rows)
    if len(rows) != n_files or total != ctx.facts["input"][0]:
        return f"{len(rows)} footers / {total} rows, want {n_files} / {ctx.facts['input'][0]}"
    return None


def _check_column_stats(ctx: Ctx, rows) -> str | None:
    total = sum(r["num_values"] for r in rows if r["column"] == "l_orderkey")
    cols = {r["column"] for r in rows}
    if total != ctx.facts["input"][0] or len(cols) != len(LI_COLS) + 1:
        return f"l_orderkey values {total}, columns {len(cols)}"
    return None


def _check_schema(ctx: Ctx, rows) -> str | None:
    missing = [c for c in [*LI_COLS, "l_shipdate"] if c not in rows[0]["simple_string"]]
    return f"schema misses {missing}" if missing else None


def _read_row_group(ctx: Ctx, warm: bool):
    with ctx.tracer.span("sources.scan", op="read_row_group"):
        df = pio.read_row_group(ctx.spark, _paths(ctx)["written"], row_group=1)
        if warm:
            return df.count()
        noop(df)


def _check_row_group(ctx: Ctx, n: int) -> str | None:
    # a directory's row groups are numbered across its files in name order
    index = 1
    for f in parquet_files(_paths(ctx)["written"]):
        md = pq.ParquetFile(f).metadata
        if index < md.num_row_groups:
            want = md.row_group(index).num_rows
            return None if n == want else f"row group has {n} rows, footer says {want}"
        index -= md.num_row_groups
    return "the written dataset has fewer than two row groups"


def _scan_op(name: str, columns, where: str | None) -> Op:
    def frame(ctx: Ctx):
        df = pio.read_parquet(ctx.spark, _paths(ctx)["merged"], columns=columns)
        return df.filter(where) if where else df

    def run(ctx: Ctx, warm: bool):
        with ctx.tracer.span("sources.scan", op=name):
            df = frame(ctx)
            if warm:
                return tuple(df.agg(F.count(F.lit(1)), F.sum("l_orderkey")).first())
            noop(df)

    def check(ctx: Ctx, got) -> str | None:
        files = ", ".join(f"'{f}'" for f in parquet_files(_paths(ctx)["merged"]))
        want = ctx.duck.execute(
            f"SELECT count(*), sum(l_orderkey) FROM read_parquet([{files}])"
            + (f" WHERE {where}" if where else "")
        ).fetchone()
        return None if tuple(got) == tuple(want) else f"(rows, sum key) {got} != {want}"

    return Op(name, "sources.scan", run, check)


def prepare_io(work: str, seed: int, tiny: bool) -> tuple[str, dict]:
    in_dir = os.path.join(work, "input")
    if tiny:
        size = gen.lineitem_replica(in_dir, 0.002, 2, seed)
    else:
        size = gen.lineitem_replica(in_dir, IO_SF, IO_FOLDS, seed)
    return in_dir, size


def io_facts(input_dir: str, duck) -> dict:
    files = parquet_files(os.path.join(input_dir, "lineitem.parquet"))
    return {"input": duck_fingerprint(duck, files)}


def io_output_checks(ctx: Ctx) -> dict[str, str | None]:
    """Checks of the datasets the last pass left on disk."""
    p = _paths(ctx)
    return {op: _same_rows(ctx, p[key]) for op, key in
            (("write", "written"), ("scatter", "scatter"), ("merge", "merged"))}


def io_written(ctx: Ctx) -> dict[str, tuple[int, int]]:
    """(files, bytes) of the dataset each writing op left on disk."""
    p = _paths(ctx)
    out = {}
    for op, key in (("write", "written"), ("scatter", "scatter"), ("merge", "merged"),
                    ("compact", "compacted")):
        n_bytes, n_files = gen.dataset_size(p[key])
        out[op] = (n_files, n_bytes)
    return out


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    prepare: Callable  # (work_dir, seed, tiny) -> (input_dir, {rows, bytes, files})
    facts: Callable  # (input_dir, duckdb connection) -> what the checks compare to
    # checks of what the measured passes left on disk: (ctx) -> {op: error or None}
    output_checks: Callable | None = None
    written: Callable | None = None  # (ctx) -> {op: (files, bytes)} it wrote


def _check_same(key: str):
    return lambda ctx, _result: _same_rows(ctx, _paths(ctx)[key])


WORKLOADS = {
    "llm_curation": Workload(
        "llm_curation",
        tuple(registry_op(n, layer) for n, layer in LLM_OPS),
        prepare_llm,
        llm_facts,
    ),
    "parquet_io": Workload(
        "parquet_io",
        (
            Op("write", "sources.write", _write, _check_same("written")),
            Op("scatter", "sources.write", _scatter, _check_same("scatter")),
            Op("merge", "sources.merge", _merge, _check_same("merged")),
            Op("compact", "sources.compact", _compact, _check_compact),
            _footer_op("metadata_stats", pio.metadata_stats, _check_metadata),
            _footer_op("column_stats", pio.column_stats, _check_column_stats),
            _footer_op("schema_dump", pio.schema_dump, _check_schema),
            Op("read_row_group", "sources.scan", _read_row_group, _check_row_group),
            _scan_op("scan_full", None, None),
            _scan_op("scan_projected", PROJECTED, None),
            _scan_op("scan_filtered", None, "l_discount >= 0.05 AND l_quantity < 24"),
        ),
        prepare_io,
        io_facts,
        output_checks=io_output_checks,
        written=io_written,
    ),
}
