"""olap_star: eight registry queries over a read-only TPC-H-shaped star.

Closed loop, one client. Each loop runs the eight queries in an order
drawn from the seed and collects every result to the driver; every
result is hash-checked against DuckDB running the registry's oracle SQL
over the same parquet files (hashes computed once, at build time).
The first loop runs each query for the first time in the session, as
an ad-hoc query runs; its code generation is part of it (the JVM's JIT
and GC threads are left out of operation times, see METRICS.md).
"""

from __future__ import annotations

import json
import os
import random
import shutil

from . import gen
from .common import QUERY_NAMES, now, rows_hash, scan_rows, settle

DATA_VERSION = "olap-v1"


def data_dir(data: str) -> str:
    return os.path.join(data, f"{DATA_VERSION}-sf{gen.OLAP_SF:g}")


def build(data: str, log) -> None:
    """Generate the tables and the expected result hashes once per
    checkout (the data does not depend on the seed)."""
    out = data_dir(data)
    if os.path.exists(os.path.join(out, "expected.json")):
        return
    import duckdb

    from datalake_scripts_spark.queries import REGISTRY

    log(f"building {out} (tables + DuckDB oracle hashes)")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    props = gen.olap_tables(tmp)
    con = duckdb.connect()
    try:
        for t in props:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp}/{t}.parquet')")
        expected = {}
        for q in QUERY_NAMES:
            rel = con.sql(REGISTRY[q].sql)
            expected[q] = {"hash": rows_hash(rel.columns, rel.fetchall())}
    finally:
        con.close()
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump({"queries": expected, "tables": props, "sf": gen.OLAP_SF}, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def _expected(ctx) -> dict:
    with open(os.path.join(data_dir(ctx.data), "expected.json")) as f:
        return json.load(f)


def execute(ctx, name: str, expected: dict) -> dict:
    """Build, collect and check one query."""
    from datalake_scripts_spark.queries import REGISTRY

    spark, tr = ctx.spark, ctx.trace
    sf = data_dir(ctx.data)
    t0, c0 = now(), ctx.cpu()
    with tr.span("queries.build", query=name):
        df = REGISTRY[name].fn(spark, sf)
    with tr.span("queries.exec", query=name):
        rows = df.collect()
    op_s, cpu_s = now() - t0, ctx.cpu() - c0
    layer = {}
    if tr.enabled:
        layer["io.scan_rows_per_result_row"] = scan_rows(df) / max(1, len(rows))
    ok = rows_hash(df.columns, rows) == expected["queries"][name]["hash"]
    if not ok:
        ctx.log(f"gate: {name} result hash differs from the DuckDB oracle")
    return {"op_s": op_s, "cpu_s": cpu_s, "items": len(rows), "ok": ok, "layer": layer,
            "query": name}


def setup(ctx) -> None:
    """Session setup a user of the registry does before querying: the
    tables' file listings and footers, memoized by io.register_views."""
    from datalake_scripts_spark.io import register_views

    register_views(ctx.spark, data_dir(ctx.data), tables=tuple(_expected(ctx)["tables"]))


def run(ctx) -> dict:
    """Whole loops until ``seconds`` have passed (at least one)."""
    exp = _expected(ctx)
    rng = random.Random(f"olap:{ctx.seed}")
    ops: list[dict] = []
    t_end = now() + ctx.seconds
    while not ops or now() < t_end:
        order = list(QUERY_NAMES)
        rng.shuffle(order)
        for q in order:
            ctx.trace.op = len(ops)
            settle(ctx.spark)
            ops.append(ctx.guard(execute, ctx, q, exp))
    return {"ops": ops, "inputs": {"sf": exp["sf"], "loops": len(ops) // len(QUERY_NAMES),
                       "tables": exp["tables"]}}
