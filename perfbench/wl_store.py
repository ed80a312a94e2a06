"""A feature-store session: the workload both benchmark workloads run.

A round makes two refresh cycles (land a batch, refresh two managed FVs
incrementally, re-export the online snapshot), three serving steps (point
lookups and a batch-scoring call; wl_refresh), one point-in-time training
set on the same store (wl_training) and two passes over a set of
oracle-gated query keys (wl_query). The two workloads differ only in their
query keys, so every surface is timed on both.
"""

from __future__ import annotations

import time

from common import Client, dir_bytes
from wl_query import QueryMix
from wl_refresh import RefreshAndServe
from wl_training import TrainingSet


class StoreSession:
    def __init__(self, seed: int, keys: list[str]) -> None:
        self.serve = RefreshAndServe(seed)
        self.train = TrainingSet(seed)
        self.query = QueryMix(keys)
        self.round_s: list[float] = []
        self.check_s: dict[str, float] = {}

    @property
    def stores(self):
        return [self.serve.fs]

    def setup(self, spark, rep: int) -> None:
        self.serve.setup(spark, rep)
        self.train.setup(spark, self.serve)
        self.query.setup(spark)

    def run(self, client: Client, deadline: float, clock) -> None:
        while clock() < deadline:
            t0 = time.perf_counter()
            # Repeated calls are spread over the round, so a slow spell of
            # the host lands on one sample of a surface, not on all of them.
            # The first pass of a query key compiles its generated code.
            self.serve.refresh(client)
            self.serve.serve(client)
            self.train.build(client)
            self.serve.serve(client)
            self.query.run_pass(client)
            self.serve.refresh(client)
            self.serve.serve(client)
            self.query.run_pass(client)
            self.round_s.append(time.perf_counter() - t0)

    def plan_probe(self):
        return self.train.plan_probe()

    def metrics(self, client: Client) -> dict:
        s, t, q = self.serve.metrics(client), self.train.metrics(client), self.query.metrics(client)
        inputs = self.serve.input_bytes + self.train.inputs["input_bytes"]
        return {**s, **t, **q, "round_s": self.round_s,
                "stored_bytes_ratio": dir_bytes(self.serve.store_root) / inputs}

    def check(self) -> int:
        wrong = 0
        for part in (self.serve, self.train, self.query):
            t0 = time.perf_counter()
            wrong += part.check()
            self.check_s[type(part).__name__] = time.perf_counter() - t0
        return wrong
