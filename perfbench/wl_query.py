"""The query part of a round: one session issues related oracle-gated
query keys back to back, in a fixed order, over a copy of the engine's
sf0.01 test tables (``perfbench/data/sf0.01``). The seed does not change
these inputs.

Each key is built (the key function, which may run eager collects) and
then materialized by collecting its rows; the rows are checked untimed
against the key's DuckDB ``oracle_sql()`` twin.
"""

from __future__ import annotations

import os
import sys
import time

from common import Client
from tracing import Window

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# Seven of the engine's oracle-gated keys, grouped by the layer they load.
KEYS = {
    "models": ["q_metric_conv_events", "q_saved_query"],
    "functions": ["q_median_mad", "q_pagerank", "q_bpe_segment", "q_sim_topk_fast"],
    "operators": ["q_text_quality"],
}
ALL_KEYS = [k for ks in KEYS.values() for k in ks]


class QueryMix:
    def __init__(self, keys: list[str]) -> None:
        self.keys = keys
        self.sf_dir = SF_DIR
        self.passes: list[dict[str, float]] = []
        self.build: list[dict[str, float]] = []
        self.results: list[dict[str, tuple]] = []
        self.phase_windows: dict[str, list[Window]] = {"build": [], "sink": []}
        self.key_windows: dict[str, list[Window]] = {k: [] for k in self.keys}

    def setup(self, spark) -> None:
        import __spark_entry__

        q = __spark_entry__.queries()
        self.fns = {k: q[k] for k in self.keys}
        self.spark = spark

    def _phase(self, client: Client, key: str, phase: str, fn):
        group = f"{key}/{phase}#{len(self.passes)}"
        client.sc.setJobGroup(group, f"{key} {phase}")
        start = time.time()
        try:
            return fn()
        finally:
            w = Window(group, start * 1e3, time.time() * 1e3)
            self.phase_windows[phase].append(w)
            self.key_windows[key].append(w)
            client.windows.append(w)
            client.idle()

    def _run_key(self, client: Client, key: str):
        self._build_t = 0.0
        t0 = time.perf_counter()
        df = self._phase(client, key, "build", lambda: self.fns[key](self.spark, self.sf_dir))
        self._build_t = time.perf_counter() - t0
        rows = self._phase(client, key, "sink", df.collect)
        return df, rows

    def run_pass(self, client: Client) -> None:
        from dbt_snowflake_feature_store_spark.operators import ext_text

        ext_text._PAIR_CACHE.clear()  # session memo caches start cold each pass
        times, build, res = {}, {}, {}
        # A fixed order: the first keys of a pass pay the JVM's JIT
        # warm-up, so a seeded order moved seconds between keys from
        # run to run.
        for key in self.keys:
            t0 = time.perf_counter()
            out = client.op(key, self._run_key, client, key, window=False)
            times[key] = time.perf_counter() - t0
            build[key] = self._build_t
            if out is not None:
                res[key] = out
        self.passes.append(times)
        self.build.append(build)
        self.results.append(res)

    # ------------------------------------------------------------------
    def metrics(self, client: Client) -> dict:
        return {
            "pass_s": [sum(p.values()) for p in self.passes],
            "key_s": {k: [p[k] for p in self.passes] for k in self.keys},
            "build_s": [sum(b.values()) for b in self.build],
        }

    def check(self) -> int:
        """Untimed: each key's collected rows equal its DuckDB oracle twin
        (row count, column names and types, canonicalized values)."""
        sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
        import __spark_entry__
        import oracle_utils as ou

        sql = __spark_entry__.oracle_sql()
        con = ou.duckdb_conn(self.sf_dir)
        oracle = {}
        for k in self.keys:
            arrow = con.execute(sql[k]).fetch_arrow_table()
            cols = arrow.column_names
            rows = [tuple(r.values()) for r in arrow.to_pylist()]
            oracle[k] = (arrow.schema, cols, ou.rows_canon(rows, [c.lower() for c in cols]))
        wrong = 0
        for res in self.results:
            for k, (df, rows) in res.items():
                schema, o_cols, o_canon = oracle[k]
                problems = []
                if sorted(c.lower() for c in df.columns) != sorted(c.lower() for c in o_cols):
                    problems.append("columns")
                elif ou.check_types(df, schema):
                    problems.append("types")
                elif ou.rows_canon([tuple(r) for r in rows], [c.lower() for c in df.columns]) != o_canon:
                    problems.append("values")
                if problems:
                    wrong += 1
                    print(f"query check: {k} differs from its oracle ({problems[0]})", file=sys.stderr)
        return wrong
