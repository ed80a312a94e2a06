#!/usr/bin/env python3
"""Feature-store benchmark.

    python3 perfbench/run.py --workload store_semantic --seed 1 --seconds 5 --trace 0

Run from the repository root. Drives the engine through its public API in
one process on local[nproc]; see perfbench/README.md for the workloads,
sizes and the layer → metric map. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import tracing  # noqa: E402
from wl_query import ALL_KEYS, KEYS  # noqa: E402

SETUP_REPS = 3
# Both workloads run the same feature-store round; they differ in the query
# keys of the round's query pass.
WORKLOADS = {
    "store_semantic": KEYS["models"] + ["q_median_mad"],
    "store_pipeline": KEYS["functions"][1:] + KEYS["operators"],
}
END_TO_END = {"setup_s": "s", "dataset_s_p50": "s", "refresh_s_min": "s",
              "lookup_ms_p50": "ms", "score_s_p50": "s", "query_pass_s": "s",
              "query_geomean_s": "s"}
# printed beside the end-to-end metrics, and traced as e2e.*
NAMED_FIGURES = {**END_TO_END, "train_rows_per_s": "rows/s", "lookups_per_s": "1/s",
                 "stored_bytes_ratio": "ratio", "peak_rss_mb": "MB", "ops_failed_frac": "ratio"}
# the part of the round each client call belongs to
SCOPES = {"refresh_cycle": "serve", "online_lookup": "serve",
          "retrieve_online_features": "serve", "generate_dataset": "train"}


def scope_of(op: str | None) -> str:
    return SCOPES.get(op, "query") if op else "none"


def per_layer_units() -> dict[str, str]:
    u = {"session.get_spark_s": "s",
         "sources.read_table.calls": "count", "sources.read_table_s": "s",
         "registry.put.calls": "count", "registry.get.calls": "count",
         "registry.list.calls": "count", "registry_s": "s",
         "pit.asof_join.calls": "count", "pit.asof_join_s": "s",
         "pit.broadcast_joins": "count", "pit.union_joins": "count"}
    for n in ("dataset_plan", "generate_dataset", "export_online_store", "online_lookup_build",
              "online_lookup_collect", "retrieve_online_features", "refresh"):
        u[f"store.{n}_s"] = "s"
    u.update({"storage.write_s": "s", "storage.read_s": "s", "storage.recover_s": "s",
              "storage.files_written": "count", "storage.bytes_written": "bytes",
              "storage.files_read": "count",
              "refresh.calls": "count", "refresh.incremental": "count",
              "refresh.incremental_watermark": "count", "refresh.full": "count",
              "refresh.incremental_ratio": "ratio",
              "streaming.batches": "count", "streaming.input_rows": "rows",
              "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
              "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
              "streaming.state_rows": "rows", "streaming.state_bytes": "bytes",
              "models.evaluate_metric.calls": "count", "models.evaluate_metric_s": "s"})
    for k in KEYS["models"]:
        u[f"models.{k}.parquet_scans"] = "count"
        u[f"models.{k}.exchanges"] = "count"
    for m in tracing.FUNCTION_MODULES:
        u[f"functions.{m}.calls"] = "count"
        u[f"functions.{m}_s"] = "s"
    for k in ALL_KEYS:
        u[f"query.{k}_s"] = "s"
    u.update({"query.build_s": "s", "query.sink_s": "s", "query.build_sql_execs": "count"})
    for n, unit in (("sql_execs", "count"), ("jobs", "count"), ("tasks", "count"),
                    ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("gc_s", "s"),
                    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                    ("spill_bytes", "bytes"), ("input_rows", "rows"), ("task_skew", "ratio"),
                    ("driver_gap_s", "s")):
        u[f"spark.{n}"] = unit
    u["online.rows_scanned_per_hit"] = "ratio"
    for n, unit in NAMED_FIGURES.items():
        u[f"e2e.{n}"] = unit
    u["trace.prediction_violations"] = "count"
    return u


def better(name: str) -> str:
    """Direction of improvement of a per-layer metric."""
    return "higher" if name in HIGHER_IS_BETTER else "lower"


HIGHER_IS_BETTER = {"refresh.incremental", "refresh.incremental_watermark",
                    "refresh.incremental_ratio", "e2e.train_rows_per_s", "e2e.lookups_per_s"}

SEMANTIC, PIPELINE = WORKLOADS
# calls > 0 expected on these workloads
PREDICTED_BUSY = {
    **{name: [SEMANTIC, PIPELINE] for name in (
        "pit.asof_join.calls", "store.generate_dataset_s", "storage.write_s",
        "registry.get.calls", "refresh.calls", "streaming.batches",
        "online.rows_scanned_per_hit", "sources.read_table.calls", "query.build_s",
        "spark.jobs")},
    "models.evaluate_metric.calls": [SEMANTIC],
    "functions.ranks.calls": [SEMANTIC],
    "functions.similarity.calls": [PIPELINE],
    "functions.graph.calls": [PIPELINE],
    "functions.bpe.calls": [PIPELINE],
    "functions.text.calls": [PIPELINE],
}
# (layer, part of the round) pairs that must see exactly 0, on every workload
PREDICTED_ZERO = [("pit.asof_join.calls", "serve"), ("pit.asof_join.calls", "query"),
                  ("streaming.batches", "train"), ("streaming.batches", "query"),
                  ("models.evaluate_metric.calls", "serve"),
                  ("models.evaluate_metric.calls", "train")]


def named_figures(m: dict, client, setup_s: float, rss: float, failed: int) -> dict:
    """The end-to-end figures, by name."""
    med = common.median
    lk = [t * 1e3 for t in m["lookup_s"]]
    return {"setup_s": setup_s, "dataset_s_p50": med(m["dataset_s"]),
            "refresh_s_min": min(m["refresh_s"]), "lookup_ms_p50": med(lk),
            "score_s_p50": med(m["score_s"]), "query_pass_s": min(m["pass_s"]),
            "query_geomean_s": common.geomean([min(xs) for xs in m["key_s"].values()]),
            "train_rows_per_s": m["train_rows_per_s"],
            "lookups_per_s": m["lookups_per_s"], "stored_bytes_ratio": m["stored_bytes_ratio"],
            "peak_rss_mb": rss, "ops_failed_frac": failed / max(client.attempted, 1)}


def layer_metrics(wl, m, client, layers, listener, log, session, plan_s, figures) -> dict:
    """Per-layer figures, each per round."""
    n = max(len(m["round_s"]), 1)
    v = dict.fromkeys(per_layer_units(), 0.0)
    calls, secs = layers.calls, layers.secs
    v["session.get_spark_s"] = session.launch_s
    v["sources.read_table.calls"] = calls["sources.read_table"] / n
    v["sources.read_table_s"] = secs["sources"] / n
    for op in ("put", "get", "list"):
        v[f"registry.{op}.calls"] = calls[f"registry.{op}"] / n
    v["registry_s"] = secs["registry"] / n
    v["pit.asof_join.calls"] = calls["pit.asof_join"] / n
    v["pit.asof_join_s"] = secs["pit"] / n
    v["models.evaluate_metric.calls"] = calls["models.evaluate_metric"] / n
    v["models.evaluate_metric_s"] = secs["models"] / n
    for kind in ("write", "read", "recover"):
        v[f"storage.{kind}_s"] = secs[f"storage.{kind}"] / n
    for k in ("files_written", "bytes_written", "files_read"):
        v[f"storage.{k}"] = calls[f"storage.{k}"] / n
    for mod in tracing.FUNCTION_MODULES:
        layer = f"functions.{mod}"
        v[f"{layer}.calls"] = sum(c for k, c in calls.items() if k.startswith(layer + ".")) / n
        v[f"{layer}_s"] = secs[layer] / n
    v["store.dataset_plan_s"] = plan_s
    t = client.times
    serve = wl.serve
    modes = serve.modes
    v["refresh.calls"] = len(modes) / n
    for mode in ("INCREMENTAL", "INCREMENTAL_WATERMARK", "FULL"):
        v[f"refresh.{mode.lower()}"] = modes.count(mode) / n
    v["refresh.incremental_ratio"] = sum(x.startswith("INCREMENTAL") for x in modes) / max(len(modes), 1)
    v["store.generate_dataset_s"] = sum(t.get("generate_dataset", [])) / n
    v["store.refresh_s"] = sum(serve.fs_refresh_s) / n
    v["store.export_online_store_s"] = sum(serve.export_s) / n
    v["store.online_lookup_build_s"] = sum(serve.build_s) / n
    v["store.online_lookup_collect_s"] = sum(serve.collect_s) / n
    v["store.retrieve_online_features_s"] = sum(t.get("retrieve_online_features", [])) / n
    if listener is not None:
        for k, x in listener.totals.items():
            v[f"streaming.{k}"] = x / n if k not in ("state_rows", "state_bytes") else x
    for k, xs in m["key_s"].items():
        v[f"query.{k}_s"] = min(xs)
    v["query.build_s"] = common.median(m["build_s"])
    v["query.sink_s"] = common.median([p - b for p, b in zip(m["pass_s"], m["build_s"])])
    if log is not None:
        per = tracing.attribute(log, client.windows)
        tot = {}
        for o in per.values():
            for k, x in o.items():
                tot[k] = tot.get(k, 0.0) + x
        for k in ("sql_execs", "jobs", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_rows",
                  "driver_gap_s"):
            v[f"spark.{k}"] = tot.get(k, 0.0) / n
        skews = [o["task_skew"] for o in per.values() if o.get("jobs")]
        v["spark.task_skew"] = common.median(skews)

        def total(key: str, prefix: str) -> float:
            return sum(o[key] for g, o in per.items() if g.startswith(prefix))

        # as-of join shapes in the executed dataset plans only
        v["pit.broadcast_joins"] = total("broadcast_exchanges", "generate_dataset#") / n
        v["pit.union_joins"] = total("unions", "generate_dataset#") / n
        if serve.rows_returned:
            v["online.rows_scanned_per_hit"] = total("input_rows", "online_lookup#") / serve.rows_returned
        q = wl.query
        v["query.build_sql_execs"] = sum(per[w.group]["sql_execs"]
                                         for w in q.phase_windows["build"]) / n
        for k in KEYS["models"]:
            for f in ("parquet_scans", "exchanges"):
                v[f"models.{k}.{f}"] = sum(per[w.group][f] for w in q.key_windows.get(k, [])) / n
    for name, x in figures.items():
        v[f"e2e.{name}"] = x
    return v


def scoped_counts(layers, listener, client) -> dict[str, float]:
    """Calls of the zero-predicted layers in each part of the round."""
    out = {f"{name}|{scope}": 0.0 for name, scope in PREDICTED_ZERO}
    for (scope, name), c in layers.scoped.items():
        if name == "pit.asof_join":
            out[f"pit.asof_join.calls|{scope}"] = out.get(f"pit.asof_join.calls|{scope}", 0) + c
        elif name == "models.evaluate_metric":
            key = f"models.evaluate_metric.calls|{scope}"
            out[key] = out.get(key, 0) + c
    if listener is not None:
        for t in listener.batch_times_ms:
            w = tracing.window_at(client.windows, t)
            scope = scope_of(w.group.split("#")[0].split("/")[0]) if w else "none"
            out[f"streaming.batches|{scope}"] = out.get(f"streaming.batches|{scope}", 0) + 1
    return out


def self_check(workload: str, v: dict, scoped: dict) -> list[str]:
    bad = []
    for name, wls in PREDICTED_BUSY.items():
        if workload in wls and not v.get(name):
            bad.append(f"{name} is 0 on {workload}, predicted busy")
    for name, scope in PREDICTED_ZERO:
        x = scoped.get(f"{name}|{scope}", 0)
        if x:
            bad.append(f"{name} is {x} in the {scope} part of {workload}, predicted 0")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    trace = bool(args.trace)
    if not os.path.isdir(os.path.join(os.getcwd(), "dbt_snowflake_feature_store_spark")):
        print("perfbench: run from the repository root; the engine package is missing",
              file=sys.stderr)
        return 2
    common.prepare_env(trace)
    layers = tracing.Layers()
    if trace:
        tracing.install(layers)
    import wl_store

    wl = wl_store.StoreSession(args.seed, WORKLOADS[args.workload])
    session = common.Session()
    phases = {}
    t_main = time.perf_counter()
    try:
        session.start()
        phases["launch"] = time.perf_counter() - t_main
        setups = []
        spark = session.spark
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(spark, rep)
            setups.append(time.perf_counter() - t0)
        client = common.Client(spark)
        listener = None
        if trace:
            listener = tracing.make_stream_listener()
            spark.streams.addListener(listener)
            for fs in wl.stores:
                tracing.wrap_storage(layers, fs.storage)
            layers.scope = lambda: scope_of(client.current)
        layers.on = trace
        t0 = time.perf_counter()
        wl.run(client, t0 + args.seconds, time.perf_counter)
        elapsed = time.perf_counter() - t0
        layers.on = False
        plan_s = 0.0
        if trace:
            t1 = time.perf_counter()
            wl.plan_probe()
            plan_s = time.perf_counter() - t1
        t1 = time.perf_counter()
        wrong = wl.check()
        phases["check"] = time.perf_counter() - t1
        rss = common.peak_rss_mb()
        ctx = common.context(spark, args.seed, args.workload)
        t1 = time.perf_counter()
        ctx["control_s"] = common.control_seconds(spark)
        phases["control"] = time.perf_counter() - t1
        app_id = spark.sparkContext.applicationId
        if listener is not None:
            seen = -1
            while seen != listener.events:  # progress events arrive asynchronously
                seen = listener.events
                time.sleep(0.5)
    finally:
        t1 = time.perf_counter()
        session.shutdown()
        phases["shutdown"] = time.perf_counter() - t1
    phases["total"] = time.perf_counter() - t_main
    m = wl.metrics(client)
    failed = client.failed + wrong
    figures = named_figures(m, client, common.median(setups), rss, failed)
    ctx.update(setup_reps_s=setups, rounds=len(m["round_s"]), round_s=m["round_s"],
               measured_s=elapsed, phases_s=phases, check_s=wl.check_s, key_s=m["key_s"],
               call_s={k: sum(xs) for k, xs in client.times.items()})
    print("context " + json.dumps(ctx))
    print("metrics " + json.dumps({k: round(x, 6) for k, x in figures.items()}))
    if trace:
        log = tracing.parse_event_log(tracing.find_event_log(common.EVENT_DIR, app_id))
        v = layer_metrics(wl, m, client, layers, listener, log, session, plan_s, figures)
        scoped = scoped_counts(layers, listener, client)
        bad = self_check(args.workload, v, scoped)
        v["trace.prediction_violations"] = len(bad)
        print("scoped " + json.dumps(scoped))
        print("selfcheck " + json.dumps(bad))
        units = per_layer_units()
        metrics = {k: {"value": v[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": figures[k], "unit": unit} for k, unit in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": client.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0

if __name__ == "__main__":
    sys.exit(main())
