"""The refresh-and-serve part of a feature-store round.

A store pre-seeded with an event history carries two managed FVs: a
windowed daily aggregate (streaming append path) and a keyed lifetime
aggregate (update mode + foreachBatch MERGE path). A refresh cycle lands a
batch of events, refreshes both FVs and re-exports the online snapshot; a
serving step issues point lookups on Zipf-drawn keys and one
batch-scoring call. The store is shared with the training part
(wl_training), whose feature views read the same events and the daily FV.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

import datagen
from common import WORK, Client

USERS, SEED_ROWS, BATCH_ROWS, PAYLOAD = 10_000, 100_000, 10_000, 12
BATCH_SPAN_S, LATE_FRAC, LATE_MAX_S = 6 * 3600, 0.10, 1800
WATERMARK = "1 hour"
LOOKUPS, SCORE_ROWS = 4, 2_000  # per serving step


class RefreshAndServe:
    name = "store"  # directory of the store under the work dir

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.rng = np.random.default_rng(seed + 1)
        self.modes: list[str] = []
        self.lookups: list[tuple[int, int, list]] = []  # (round, key, rows)
        self.build_s: list[float] = []
        self.collect_s: list[float] = []
        self.rows_returned = 0
        self.export_s: list[float] = []
        self.fs_refresh_s: list[float] = []
        self.rounds = 0

    def setup(self, spark, rep: int) -> None:
        from dbt_snowflake_feature_store_spark import Entity, FeatureStore, FeatureView, RefreshSpec

        self.base = os.path.join(WORK, self.name, f"rep{rep}")
        self.src = os.path.join(self.base, "src")
        self.history = datagen.stream_block(self.seed, 0, USERS, SEED_ROWS, BATCH_SPAN_S,
                                            LATE_FRAC, LATE_MAX_S, PAYLOAD)
        self.input_bytes = datagen.write_batch(self.history, self.src, 0)
        self.landed = [os.path.join(self.src, "batch-00000.parquet")]
        self.store_root = os.path.join(self.base, "store")
        # one session serves every repetition: catalog names must not collide
        fs = FeatureStore(spark, self.store_root, name=f"bench_store_{rep}")
        fs.register_source("EV_W", self.src, watermark_col="ts", watermark_delay=WATERMARK)
        fs.register_source("EV_K", self.src)
        fs.register_entity(Entity("user", ["user_id"]))
        self.day_fv = fs.register_feature_view(FeatureView(
            "user_day", ["user"], timestamp_col="day_end",
            sql="""SELECT user_id, window(ts, '1 day').end AS day_end,
                          COUNT(*) AS f_day_n, SUM(value_cents) AS f_day_cents
                   FROM EV_W GROUP BY window(ts, '1 day'), user_id""",
            refresh=RefreshSpec("1 hour", "INCREMENTAL")), version="1")
        fs.register_feature_view(FeatureView(
            "user_life", ["user"],
            sql="""SELECT user_id, COUNT(*) AS f_n, SUM(value_cents) AS f_cents,
                          MAX(ts) AS f_last_ts
                   FROM EV_K GROUP BY user_id""",
            refresh=RefreshSpec("1 hour", "INCREMENTAL")), version="1")
        fs.export_online_store("USER_LIFE", "1")
        score = datagen.zipf_ids(np.random.default_rng(self.seed + 2), USERS, SCORE_ROWS)
        self.score_spine = spark.createDataFrame([(int(u),) for u in score], "user_id bigint")
        self.fs = fs

    # ------------------------------------------------------------------
    def _land(self, k: int) -> None:
        batch = datagen.stream_block(self.seed, k, USERS, BATCH_ROWS, BATCH_SPAN_S,
                                     LATE_FRAC, LATE_MAX_S, PAYLOAD)
        self.input_bytes += datagen.write_batch(batch, self.src, k)
        self.landed.append(os.path.join(self.src, f"batch-{k:05d}.parquet"))

    def _refresh_cycle(self) -> None:
        t0 = time.perf_counter()
        for fv in ("USER_DAY", "USER_LIFE"):
            self.modes.append(self.fs.refresh(fv, "1"))
        self.fs_refresh_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.fs.export_online_store("USER_LIFE", "1")
        self.export_s.append(time.perf_counter() - t0)

    def _lookup(self, key: int) -> list:
        t0 = time.perf_counter()
        df = self.fs.online_lookup("USER_LIFE", "1", keys={"user_id": key})
        t1 = time.perf_counter()
        rows = df.collect()
        self.build_s.append(t1 - t0)
        self.collect_s.append(time.perf_counter() - t1)
        self.rows_returned += len(rows)
        return rows

    def _score(self) -> int:
        out = self.fs.retrieve_online_features(self.score_spine, ["USER_LIFE"], ["1"])
        out.write.format("noop").mode("overwrite").save()
        return SCORE_ROWS

    def refresh(self, client: Client) -> None:
        self.rounds += 1
        self._land(self.rounds)  # the batch has landed before the timed refresh starts
        client.op("refresh_cycle", self._refresh_cycle)

    def serve(self, client: Client) -> None:
        for key in datagen.zipf_ids(self.rng, USERS, LOOKUPS):
            rows = client.op("online_lookup", self._lookup, int(key))
            self.lookups.append((self.rounds, int(key), rows))
        client.op("retrieve_online_features", self._score)

    # ------------------------------------------------------------------
    def metrics(self, client: Client) -> dict:
        lk = client.times["online_lookup"]
        return {
            "refresh_s": client.times["refresh_cycle"],
            "lookup_s": lk,
            "lookups_per_s": len(lk) / sum(lk) if lk else 0.0,
            "score_s": client.times["retrieve_online_features"],
        }

    def check(self) -> int:
        """Untimed: every lookup equals DuckDB's per-key aggregate over the
        files landed by then; after the last round the merged FV equals
        DuckDB over all landed files, and every emitted daily window is
        exact, with every window closed by the watermark present."""
        import duckdb

        con = duckdb.connect()
        wrong = 0
        upto = {}
        for r, key, rows in self.lookups:
            upto.setdefault(r, []).append((key, rows))
        for r, items in upto.items():
            files = self.landed[: r + 1]
            keys = sorted({k for k, _ in items})
            want = {row[0]: tuple(row[1:]) for row in con.execute(
                f"""SELECT user_id, COUNT(*), SUM(value_cents)::BIGINT, MAX(ts)
                    FROM read_parquet({files!r}) WHERE user_id IN ({','.join(map(str, keys))})
                    GROUP BY user_id""").fetchall()}
            for key, rows in items:
                if rows is None:  # the op itself failed and is counted already
                    continue
                got = None if not rows else (rows[0]["f_n"], rows[0]["f_cents"],
                                             rows[0]["f_last_ts"].replace(tzinfo=None))
                if len(rows) > 1 or got != want.get(key):
                    wrong += 1
        if wrong:
            print(f"refresh check: {wrong} lookups differ from DuckDB", file=sys.stderr)
        if self.rounds:
            # sorted row lists, not dicts: a duplicated key must show
            life = sorted((r["user_id"], r["f_n"], r["f_cents"]) for r in
                          self.fs.read_feature_view("USER_LIFE$1").collect())
            want = sorted(con.execute(
                f"SELECT user_id, COUNT(*), SUM(value_cents)::BIGINT FROM read_parquet({self.landed!r}) "
                "GROUP BY user_id").fetchall())
            if life != want:
                print("refresh check: merged lifetime FV differs from DuckDB", file=sys.stderr)
                wrong += 1
            # windows the watermark had closed before the last round
            prev = self.landed[:-1]
            (wm,) = con.execute(f"SELECT MAX(ts) - INTERVAL {WATERMARK} FROM read_parquet({prev!r})").fetchone()
            day_rows = self.fs.read_feature_view("USER_DAY$1").collect()
            days = {(r["user_id"], r["day_end"].replace(tzinfo=None)): (r["f_day_n"], r["f_day_cents"])
                    for r in day_rows}
            want_days = {(u, d): (n, c) for u, d, n, c in con.execute(
                f"""SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY, COUNT(*),
                           SUM(value_cents)::BIGINT
                    FROM read_parquet({self.landed!r}) GROUP BY ALL""").fetchall()}
            bad = [k for k, v in days.items() if want_days.get(k) != v]
            missing = [k for k in want_days if k[1] <= wm and k not in days]
            if bad or missing or len(days) != len(day_rows):
                print(f"refresh check: {len(bad)} wrong and {len(missing)} missing daily windows",
                      file=sys.stderr)
                wrong += 1
        return wrong
