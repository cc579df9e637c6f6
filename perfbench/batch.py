"""The ``data_pipeline`` workload: passes over registry queries on
seeded synthetic tables. Each pass materialises every query once, in an
order the seed permutes; every result is checked afterwards against the
query's DuckDB oracle (``plans.ORACLES``) with the normalisation of
scripts/check_parity.py.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

import tables
from harness import Run, median

# Registry query -> the engine layer it exercises.
QUERY_LAYERS = {
    "pipeline_training_shards": "sources.sinks",
    "stream_record_high": "streaming.windows",
    "dedup_substring_coverage": "operators.dedup",
    "dedup_cluster_canonical": "operators.dedup",
    "ann_pq_sq_topk": "operators.similarity",
}
QUERIES = list(QUERY_LAYERS)
QUANTITIES = ["wall_s", "call_s", "jobs", "driver_gap_s", "task_s", "shuffle_write_mb", "spill_mb"]


def _check_parity_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(root, "scripts", "check_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleChecker:
    """Compares collected Spark rows with the DuckDB oracle the way
    scripts/check_parity.py does: column names, value representation
    families, row count and the order-insensitive normalised multiset."""

    def __init__(self, root: str, table_dir: str) -> None:
        import duckdb

        self.cp = _check_parity_module(root)
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in tables.TABLES:
            path = os.path.join(table_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._want: dict[str, tuple] = {}

    def _oracle(self, name: str):
        if name not in self._want:
            from panditya_spark.plans import ORACLES

            tbl = self.con.execute(ORACLES[name]).fetch_arrow_table()
            cols = list(tbl.schema.names)
            rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
            fams = {f.name: self.cp.arrow_family(f.type) for f in tbl.schema}
            self._want[name] = (cols, rows, fams)
        return self._want[name]

    def check(self, name: str, schema, cols: list[str], rows: list[tuple]) -> str | None:
        d_cols, d_rows, d_fams = self._oracle(name)
        if sorted(cols) != sorted(d_cols):
            return f"columns {sorted(cols)}, oracle {sorted(d_cols)}"
        s_fams = {f.name: self.cp.spark_family(f.dataType) for f in schema.fields}
        diffs = [c for c in d_cols if s_fams.get(c) != d_fams[c]]
        if diffs:
            return f"representation differs in {diffs}"
        if len(rows) != len(d_rows):
            return f"{len(rows)} rows, oracle {len(d_rows)}"
        if not rows:
            return "no rows (a vacuous match)"
        if self.cp.df_multiset(cols, rows)[1] != self.cp.df_multiset(d_cols, d_rows)[1]:
            return "values differ from the oracle"
        return None


def run(h: Run, root: str) -> dict:
    from panditya_spark import plans

    tracer = h.tracer
    table_dir = os.path.join(h.work_dir, "tables")

    def setup_rep(spark):
        counts = tables.write_tables(table_dir, h.seed)
        # Load check, which also warms the parquet scan path.
        got = {
            t: spark.read.parquet(os.path.join(table_dir, f"{t}.parquet")).count()
            for t in tables.TABLES
        }
        return counts, got

    setup_s, (counts, got) = h.setup(setup_rep, reps=3)
    h.take_jobs()
    failures = [] if got == counts else [f"table row counts {got}, expected {counts}"]

    # ------------------------------------------------------------ timed passes
    rng = random.Random(h.seed)
    spark = h.spark
    passes, results = [], []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < h.seconds:
        order = rng.sample(QUERIES, len(QUERIES))
        p0 = time.perf_counter()
        with tracer.span(f"pass{len(passes)}", "harness"):
            for name in order:
                layer = QUERY_LAYERS[name]
                with tracer.span(name, layer):
                    t0 = time.perf_counter()
                    try:
                        with tracer.span(f"{name}.call", layer):
                            df = plans.QUERIES[name](spark, table_dir)
                        t1 = time.perf_counter()
                        rows = [tuple(r) for r in df.collect()]
                        out = (df.schema, df.columns, rows, None)
                    except Exception as e:  # a raising query is a failed one
                        t1 = time.perf_counter()
                        out = (None, None, None, f"{type(e).__name__}: {e}")
                    t2 = time.perf_counter()
                results.append({"name": name, "wall_s": t2 - t0, "call_s": t1 - t0,
                                "out": out, "acct": h.take_jobs()})
        passes.append(time.perf_counter() - p0)
    wall = time.perf_counter() - t_start

    # ------------------------------------------------ checks, outside timing
    checker = OracleChecker(root, table_dir)
    for r in results:
        schema, cols, rows, err = r.pop("out")
        problem = err or checker.check(r["name"], schema, cols, rows)
        if problem:
            failures.append(f"{r['name']}: {problem}")

    by_query: dict[str, list[dict]] = {q: [] for q in QUERIES}
    for r in results:
        by_query[r["name"]].append(r)
    e2e = {
        "setup_s": setup_s,
        "p50_s": median(passes),
    }
    summary = {"pass_s": median(passes), "passes": len(passes),
               "queries_per_s": len(results) / wall}
    summary.update({f"{q}.wall_s": median([r["wall_s"] for r in rs]) for q, rs in by_query.items()})

    layers: dict[str, float] = {}
    if h.traced:
        for q, rs in by_query.items():
            prefix = f"{QUERY_LAYERS[q]}.{q}"
            for key in ("wall_s", "call_s"):
                layers[f"{prefix}.{key}"] = median([r[key] for r in rs])
            for key in ("jobs", "task_s", "shuffle_write_mb", "spill_mb"):
                layers[f"{prefix}.{key}"] = median([r["acct"][key] for r in rs])
            layers[f"{prefix}.driver_gap_s"] = median(
                [r["wall_s"] - r["acct"]["job_busy_s"] for r in rs]
            )
    return {
        "e2e": e2e, "summary": summary, "per_layer": layers,
        "attempted": len(results) + 1, "failures": failures,
    }
