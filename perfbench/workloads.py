"""The benchmark's workloads: which jobs one pass runs, how each job
calls into the engine's layers, and how each job's output is checked
against DuckDB.

A job runs under a ``Tracer``; with tracing off every span is a no-op,
so the untraced and traced runs call the engine identically except for
the explicit ``executedPlan()`` probe of a traced pass.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass

from probes import planning_phases, python_nodes

WORKLOADS: dict[str, list[str]] = {
    # the paper's own workflow: rule pipelines through ETLEngine,
    # exported as CSV and Parquet
    "rules_etl": ["multi_rule_pipeline", "generated_pipeline"],
    # one key per Python/Arrow kernel kind that runs per batch or per
    # group (MapInArrow, FlatMapGroupsInPandas, ArrowEvalPython), plus
    # the iterative graph key whose time is driver-side round loops and
    # pins (tens of Spark jobs); executing its returned frame is cheap
    "kernels_graph": [
        "bootstrap_ci", "semantic_dedup", "rolling_fingerprint",
        "pagerank_exact",
    ],
}

# jobs whose result is exported through the sinks (the others go to
# the noop sink)
RULE_JOBS = ("multi_rule_pipeline", "generated_pipeline")


# -- the generated rule pipeline --------------------------------------------

_LINEITEM_COLS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                  "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                  "l_returnflag", "l_linestatus")

# (mapping table, lineitem column, mapping key, candidate value columns)
_LOOKUPS = (
    ("orders", "l_orderkey", "o_orderkey", ("o_orderstatus",
                                             "o_orderpriority")),
    ("part", "l_partkey", "p_partkey", ("p_brand", "p_type", "p_name")),
    ("supplier", "l_suppkey", "s_suppkey", ("s_name",)),
    ("orders", "l_orderkey", "o_orderkey", ("o_totalprice",)),
)


def _conditions(rng: random.Random) -> list[str]:
    """Ten pandas-eval conditions in the grammar the reference's rule
    builder accepts; the seed draws thresholds and literals."""
    q = rng.randint(5, 45)
    return [
        f"(`l_quantity` > {q})",
        f"(`l_discount` >= {rng.randint(1, 9) / 100}) & "
        f"(`l_returnflag` == '{rng.choice('RAN')}')",
        f"(`l_extendedprice` * (1 - `l_discount`) > "
        f"{rng.randint(5, 60) * 1000})",
        f"(`l_tax` < {rng.randint(1, 7) / 100}) | "
        f"(`l_linestatus` != '{rng.choice('OF')}')",
        f"~(`l_quantity` <= {rng.randint(5, 45)})",
        f"`l_linenumber` in [{rng.randint(1, 3)}, {rng.randint(4, 7)}]",
        f"(`l_extendedprice` / `l_quantity` > {rng.randint(900, 2000)})",
        f"(`l_returnflag` == 'R') and (`l_quantity` >= {rng.randint(1, 50)})",
        f"(`l_orderkey` % {rng.randint(2, 9)} == 0)",
        f"not (`l_tax` + `l_discount` > {rng.randint(2, 16) / 100})",
    ]


def generated_spec(seed: int) -> list[dict]:
    """24 rules over lineitem, in the main.py rule schema: ten Direct
    Map, ten Conditional and four Lookup (into orders, part and
    supplier). The seed fixes names, order, thresholds and literals;
    the rule mix, and so the amount of work, is the same for every
    seed."""
    rng = random.Random(seed)
    rules: list[dict] = []
    for i, col in enumerate(rng.sample(_LINEITEM_COLS, len(_LINEITEM_COLS))):
        rules.append({"name": f"dm{i}_{col}", "type": "Direct Map",
                      "source": col})
    for i, cond in enumerate(_conditions(rng)):
        rules.append({"name": f"cond{i}", "type": "Conditional",
                      "expression": cond,
                      "then": f"yes_{rng.randint(100, 999)}",
                      "else": f"no_{rng.randint(100, 999)}"})
    for i, (table, in_col, key, vals) in enumerate(_LOOKUPS):
        rules.append({"name": f"lk{i}_{table}", "type": "Lookup",
                      "map_name": table, "in_col": in_col, "key_col": key,
                      "val_col": rng.choice(vals)})
    rng.shuffle(rules)
    return rules


def oracle_sql(spec: list[dict], data_dir: str) -> str:
    """DuckDB SQL with the reference's semantics for ``spec`` over
    lineitem: conditions via ``translate_expr(..., "duckdb")``, lookups
    as string-keyed left joins that keep the last row per key in file
    order."""
    from etl_tool_rep_spark.pipeline import translate_expr

    cols, joins = [], []
    for i, r in enumerate(spec):
        name = '"' + r["name"] + '"'
        if r["type"] == "Direct Map":
            cols.append(f'm."{r["source"]}" AS {name}')
        elif r["type"] == "Conditional":
            cond = translate_expr(r["expression"], "duckdb")
            cols.append(f"CASE WHEN {cond} THEN '{r['then']}' "
                        f"ELSE '{r['else']}' END AS {name}")
        else:
            path = os.path.join(data_dir, f"{r['map_name']}.parquet")
            joins.append(
                f"LEFT JOIN (SELECT k, v FROM ("
                f"SELECT CAST(\"{r['key_col']}\" AS VARCHAR) AS k, "
                f"\"{r['val_col']}\" AS v, row_number() OVER ("
                f"PARTITION BY CAST(\"{r['key_col']}\" AS VARCHAR) "
                f"ORDER BY file_row_number DESC) AS rn "
                f"FROM read_parquet('{path}', file_row_number=true)) "
                f"WHERE rn = 1) lk{i} "
                f"ON CAST(m.\"{r['in_col']}\" AS VARCHAR) = lk{i}.k")
            cols.append(f"lk{i}.v AS {name}")
    return (f"SELECT {', '.join(cols)} FROM lineitem m " + " ".join(joins))


# -- running jobs --------------------------------------------------------------

@dataclass
class Ctx:
    spark: object
    data_dir: str
    out_dir: str
    tracer: object
    seed: int


def run_job(ctx: Ctx, name: str):
    """Run one job; returns what ``check_job`` needs."""
    with ctx.tracer.span(name, "harness", job=True):
        if name == "generated_pipeline":
            return _run_generated(ctx)
        if name in RULE_JOBS:
            return _run_registry_export(ctx, name)
        return _run_registry_noop(ctx, name)


def _build(ctx: Ctx, name: str):
    from etl_tool_rep_spark.queries import QUERIES

    with ctx.tracer.span(f"{name}.build", "build"):
        return QUERIES[name](ctx.spark, ctx.data_dir)


def _plan(ctx: Ctx, df) -> None:
    """Traced passes only: force Catalyst's analysis, optimization and
    physical planning, and record the phase split and Python nodes."""
    if not ctx.tracer.enabled:
        return
    with ctx.tracer.span("plan", "catalyst") as sp:
        plan = df._jdf.queryExecution().executedPlan()
    for phase, secs in planning_phases(df._jdf).items():
        sp.counts[f"plan.{phase}_s"] = secs
    sp.counts["python_nodes"] = python_nodes(plan.toString())


def _run_registry_noop(ctx: Ctx, name: str):
    df = _build(ctx, name)
    _plan(ctx, df)
    with ctx.tracer.span(f"{name}.noop", "exec"):
        df.write.format("noop").mode("overwrite").save()
    return df


def _export(ctx: Ctx, name: str, df, engine=None) -> dict[str, str]:
    """CSV (one file, as the reference's download) and Parquet export
    into a directory cleaned before every job."""
    from etl_tool_rep_spark.sinks import write_csv, write_parquet

    base = os.path.join(ctx.out_dir, name)
    shutil.rmtree(base, ignore_errors=True)
    paths = {"csv": os.path.join(base, "csv"),
             "parquet": os.path.join(base, "parquet")}
    with ctx.tracer.span(f"{name}.csv", "sinks") as sp:
        if engine is not None:
            engine.export_csv(df, paths["csv"])
        else:
            write_csv(df, paths["csv"], single_file=True)
    _record_output(sp, paths["csv"])
    with ctx.tracer.span(f"{name}.parquet", "sinks") as sp:
        write_parquet(df, paths["parquet"])
    _record_output(sp, paths["parquet"])
    return paths


def _record_output(sp, path: str) -> None:
    if sp is None:
        return
    files = [f for f in os.listdir(path)
             if not f.startswith(("_", ".")) and not f.endswith(".crc")]
    sp.counts["files"] = len(files)
    sp.counts["out_mb"] = sum(os.path.getsize(os.path.join(path, f))
                              for f in files) / 2**20


def _run_registry_export(ctx: Ctx, name: str):
    df = _build(ctx, name)
    _plan(ctx, df)
    return _export(ctx, name, df)


def _run_generated(ctx: Ctx):
    from etl_tool_rep_spark.catalog import load
    from etl_tool_rep_spark.engine import ETLEngine

    eng = ETLEngine(ctx.spark)
    for table, mapping in (("lineitem", False), ("orders", True),
                           ("part", True), ("supplier", True)):
        with ctx.tracer.span(f"load.{table}", "catalog"):
            eng.add_dataframe(table, load(ctx.spark, ctx.data_dir, table),
                              mapping=mapping)
    eng.set_primary("lineitem")
    spec = json.dumps(generated_spec(ctx.seed))
    with ctx.tracer.span("pipeline.parse", "pipeline"):
        eng.import_pipeline_json(spec)
    with ctx.tracer.span("pipeline.compile", "pipeline"):
        df = eng.run()
    _plan(ctx, df)
    return _export(ctx, "generated_pipeline", df, engine=eng)


# -- checking outputs ----------------------------------------------------------

def _compare(srows, scols, drows, dcols) -> str | None:
    from check_oracle import normalize_rows

    if len(srows) != len(drows):
        return f"row count {len(srows)} != oracle {len(drows)}"
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} != oracle {sorted(dcols)}"
    _, ns = normalize_rows(scols, srows)
    _, nd = normalize_rows(dcols, drows)
    if ns != nd:
        diff = next((a, b) for a, b in zip(ns, nd) if a != b)
        return f"values differ, first: {diff}"
    return None


def check_job(con, ctx: Ctx, name: str, result, perturb: bool) -> str | None:
    """Compare a job's output with its DuckDB oracle; returns a
    description of the first mismatch, or None. ``perturb`` alters one
    output cell first, to show that a wrong result is caught."""
    from etl_tool_rep_spark.queries import ORACLES

    if name == "generated_pipeline":
        rel = con.sql(oracle_sql(generated_spec(ctx.seed), ctx.data_dir))
    else:
        rel = con.sql(ORACLES[name])
    dcols, drows = rel.columns, rel.fetchall()
    if name in RULE_JOBS:
        out = con.sql(f"SELECT * FROM read_parquet("
                      f"'{result['parquet']}/*.parquet')")
        scols, srows = out.columns, out.fetchall()
        csv = con.sql(f"SELECT * FROM read_csv('{result['csv']}/*.csv', "
                      f"header=true, all_varchar=true)")
        if sorted(csv.columns) != sorted(dcols):
            return f"csv columns {csv.columns} != oracle {dcols}"
        n_csv = csv.aggregate("count(*)").fetchone()[0]
        if n_csv != len(drows):
            return f"csv rows {n_csv} != oracle {len(drows)}"
    else:
        scols = result.columns
        srows = [tuple(r) for r in result.collect()]
    if perturb and srows:
        srows[0] = ("perturbed",) + tuple(srows[0][1:])
    return _compare(srows, scols, drows, dcols)
