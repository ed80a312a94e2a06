"""The training part of a feature-store round: point-in-time training-set
generation on the store the refresh-and-serve part keeps up to date.

One call is one ``fs.generate_dataset(..., save=True)`` over three feature
views: a raw timestamped user FV over every landed event, large enough
for the union as-of path; the managed daily-aggregate FV (its timestamp
is the window end); and a small region FV that takes the broadcast path.
The spine's timestamps lie in days 1–8 of the history, so the rows a
dataset sees are final when the first round starts and every dataset of
a run is the same.
"""

from __future__ import annotations

import os
import sys

import datagen
from common import Client
from wl_refresh import PAYLOAD, USERS, RefreshAndServe

SPINE, REGIONS, SNAPS, SPINE_DAYS = 10_000, 500, 10, (1, 8)
FEATURES = (["value_cents", "category"] + [f"f_x{i}" for i in range(1, 1 + PAYLOAD)]
            + ["f_day_n", "f_day_cents", "f_region_score"])


class TrainingSet:
    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.datasets = []

    def setup(self, spark, serve: RefreshAndServe) -> None:
        from dbt_snowflake_feature_store_spark import Entity, FeatureView
        from dbt_snowflake_feature_store_spark.sources import normalize_frame

        fs = serve.fs
        self.history_file = serve.landed[0]
        self.inputs = datagen.training_inputs(os.path.join(serve.base, "train"), self.seed,
                                              serve.history, USERS, SPINE, REGIONS, SNAPS,
                                              SPINE_DAYS)
        p = self.inputs["paths"]
        fs.register_source("REGION_SNAPS", p["region"])
        fs.register_entity(Entity("region", ["region_id"]))
        raw = fs.register_feature_view(FeatureView(
            "user_events", ["user"], timestamp_col="ts",
            sql=f"SELECT user_id, ts, {', '.join(FEATURES[:2 + PAYLOAD])} FROM EV_K"), version="1")
        region = fs.register_feature_view(FeatureView(
            "region_dim", ["region"], timestamp_col="r_ts",
            sql="SELECT region_id, r_ts, f_region_score FROM REGION_SNAPS"), version="1")
        self.fvs = [raw, serve.day_fv, region]
        self.spine = normalize_frame(spark.read.parquet(p["spine"]))
        self.fs = fs

    def build(self, client: Client) -> None:
        ds = client.op("generate_dataset", self.fs.generate_dataset, "train", self.spine,
                       self.fvs, version=str(len(self.datasets) + 1), spine_timestamp_col="ts",
                       spine_label_cols=["label"], save=True)
        if ds is not None:
            self.datasets.append(ds)

    def plan_probe(self):
        """The lazy dataset plan alone (store.dataset_df)."""
        return self.fs.dataset_df(self.spine, self.fvs, spine_timestamp_col="ts")

    # ------------------------------------------------------------------
    def metrics(self, client: Client) -> dict:
        t = client.times["generate_dataset"]
        return {
            "dataset_s": t,
            "train_rows_per_s": SPINE * len(t) / sum(t) if t else 0.0,
        }

    def check(self) -> int:
        """Untimed: the first dataset equals a DuckDB ASOF LEFT JOIN over the
        history and the generated parquet, value for value; every later
        dataset has the same row count and content hash. Returns the number
        of wrong ops."""
        import duckdb
        from pyspark.sql import functions as F

        if not self.datasets:
            return 0
        p = self.inputs["paths"]
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.history_file}')")
        for k in ("region", "spine"):
            con.execute(f"CREATE VIEW {k} AS SELECT * FROM read_parquet('{p[k]}/*.parquet')")
        want = con.execute("""
            WITH daily AS (
              SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS day_end,
                     COUNT(*)::BIGINT AS f_day_n, SUM(value_cents)::BIGINT AS f_day_cents
              FROM events GROUP BY ALL),
            a AS (SELECT s.sid, e.value_cents, e.category, e.* EXCLUDE (event_id, user_id, ts, value_cents, category)
                  FROM spine s ASOF LEFT JOIN events e ON s.user_id = e.user_id AND s.ts >= e.ts),
            b AS (SELECT s.sid, d.f_day_n, d.f_day_cents
                  FROM spine s ASOF LEFT JOIN daily d ON s.user_id = d.user_id AND s.ts >= d.day_end),
            c AS (SELECT s.sid, r.f_region_score
                  FROM spine s ASOF LEFT JOIN region r ON s.region_id = r.region_id AND s.ts >= r.r_ts)
            SELECT s.sid, s.label, a.* EXCLUDE (sid), b.* EXCLUDE (sid), c.* EXCLUDE (sid)
            FROM spine s JOIN a USING (sid) JOIN b USING (sid) JOIN c USING (sid)""").fetch_arrow_table()
        cols = ["sid", "label"] + FEATURES

        def rows(table):
            return sorted(tuple(r[c] for c in cols) for r in table.select(cols).to_pylist())

        first = self.datasets[0].read.to_df()
        got = rows(first.select(*cols).toArrow())
        ok = len(got) == SPINE and got == rows(want)
        if not ok:
            print(f"training_set check: dataset 1 differs from the DuckDB as-of join "
                  f"({len(got)} rows vs {want.num_rows})", file=sys.stderr)

        def digest(df):
            return df.select(F.count("*"), F.bit_xor(F.xxhash64(*cols))).first()

        ref = digest(first)
        wrong = sum(digest(ds.read.to_df()) != ref for ds in self.datasets[1:])
        return wrong + (0 if ok else 1)
