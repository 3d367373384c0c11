"""``query``: the read side, one closed-loop client.

Each round sends two cycles of registry requests (``lookup.py``) and
then one pass of bench specs (``batch.py``), so the interactive point
requests and the multi-job pipelines run beside each other on one
session.  Path a is the point requests; path b is the spec queries.
"""

from __future__ import annotations

import time

from perfbench.batch import Batch
from perfbench.lookup import Lookup

CYCLES_PER_ROUND = 2


class Query:
    name = "query"
    warm_in_run_s = 0.0

    def __init__(self, spark, harness, inputs: str) -> None:
        self.lookup = Lookup(spark, harness, inputs)
        self.batch = Batch(spark, harness, inputs)

    def reference(self) -> None:
        self.lookup.reference()
        self.batch.reference()

    def warm(self) -> None:
        self.batch.warm()
        self.lookup.warm()

    def run(self, seconds: float) -> None:
        """Whole rounds until ``seconds`` have gone (at least one)."""
        start = time.perf_counter()
        while True:
            for _ in range(CYCLES_PER_ROUND):
                self.lookup.run_cycle()
            self.batch.run_pass()
            if time.perf_counter() - start >= seconds:
                return
