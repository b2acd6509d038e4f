"""analytics_mix: one pass over 16 oracled registry queries (TPC-H joins and
aggregates, genomics QC and PRS, exports, coverage) on seeded tables, each
result hash-matched against its DuckDB oracle twin.

The order is fixed, not drawn from the seed: in a cold pass the first
queries absorb the session's warm-up, so a seeded order would move that
cost between queries from run to run and make the median query time
depend on the order rather than on the code.

Read path only: no writes, no VCF parsing, no dedup.  The measured pass
is the one pass over the 16 queries in the fresh session, which is what a
CLI user pays.  The tables have sf0.0125's row counts (75k line items),
so per-row query work is in the pass as well as per-job fixed cost;
larger tables lengthen every run beyond what the run budget holds
(README.md).
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from statistics import median

import gen
from tracing import tail, trimmed_mean

QUERIES = [
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier",
    "q09_product_profit", "q18_large_orders", "q21_waiting_supplier",
    "q_gx_variant_qc", "q_gx_sample_qc", "q_gx_hwe", "q_gx_harmonize",
    "q_gx_prs_score", "q_gx_cohort",
    "q_export_plink", "q_export_ldpred2",
    "q_gx_ld_block_stats", "q_chrom_counts",
]
N_ORDERS = 18_750  # sf0.0125 row counts: 75k line items, 1875 customers
LAYER_MODULES = ("core", "genomics", "exports", "coverage")


def _check_oracle():
    """The repository's oracle normalisation (tools/check_oracle.py)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _frame_rows(pdf) -> tuple[list[str], list[tuple]]:
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False, name=None)]


def _digest(co, cols, rows, collapse) -> str:
    return hashlib.sha256(repr(co.to_rows(cols, rows, collapse)).encode()).hexdigest()


def setup(spark, root: str, seed: int) -> dict:
    import duckdb

    from vcf_pg_loader_spark.queries import all_oracles

    sf = os.path.join(root, "tables")
    gen.write_tables(sf, seed, N_ORDERS)
    oracles = all_oracles()
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in "region nation customer supplier part orders lineitem".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    expect = {q: _frame_rows(con.execute(oracles[q]).df()) for q in QUERIES}
    con.close()
    return {"sf": sf, "expect": expect, "co": _check_oracle()}


def _matches(co, got, want) -> bool:
    (scols, srows), (dcols, drows) = got, want
    collapse = co.date_like_cols(scols, srows).symmetric_difference(
        co.date_like_cols(dcols, drows)
    )
    return _digest(co, scols, srows, collapse) == _digest(co, dcols, drows, collapse)


def run(spark, tr, st: dict, root: str) -> dict:
    from vcf_pg_loader_spark.queries import all_queries

    registry = all_queries()
    fns = {q: registry[q] for q in QUERIES}
    ops = []
    for q in QUERIES:
        module = fns[q].__module__.rsplit(".", 1)[-1]
        with tr.op("query", q, module=module) as rec:
            with tr.span("queries.build"):
                df = fns[q](spark, st["sf"])
            with tr.span("queries.exec"):
                pdf = df.toPandas()
            tr.stop_clock(rec)
            rec["ok"] = _matches(st["co"], _frame_rows(pdf), st["expect"][q])
        ops.append(rec)

    wall = [o["wall_s"] for o in ops]
    return {
        "end_to_end": {
            "sequence_s": (sum(wall), "s"),
            "op_mean_s": (trimmed_mean(wall), "s"),
            "read_p50_s": (median(wall), "s"),
        },
        "provenance": {
            "n_orders": N_ORDERS,
            "query_tail_s": tail(wall),
            "query_s": {o["name"]: o["wall_s"] for o in ops},
        },
        "measured_ops": ops,
    }


def per_layer(tr, res: dict) -> dict:
    ops = res["measured_ops"]
    out = {
        "queries.build_s": (tr.span_s("queries.build", ops), "s"),
        "queries.exec_s": (tr.span_s("queries.exec", ops), "s"),
        "queries.tail_s": (tail([o["wall_s"] for o in ops])["value"], "s"),
    }
    for m in LAYER_MODULES:
        out[f"queries.{m}_s"] = (sum(o["wall_s"] for o in ops if o["module"] == m), "s")
    return out
