"""A fixed subset of the bench specs, one at a time (part of ``query``).

Each pass runs the subset once in the generated order, with
``clearCache()`` before each spec, and checks every result against its
DuckDB oracle, computed once in set-up over the same generated tables.
The spec queries are path b.
"""

from __future__ import annotations

import json
import os

from axonops_schema_registry_spark.operators.core import release_plan_caches
from axonops_schema_registry_spark.queries import SPEC_BY_NAME
from perfbench.gen import BATCH_SPECS as SPECS

MODULE = {s: m for m, names in SPECS.items() for s in names}


def _oracle_harness():
    """The repo's canonicalisation (``tests/oracle_harness.py``)."""
    import importlib.util

    path = os.path.join(os.getcwd(), "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Batch:
    def __init__(self, spark, harness, inputs: str) -> None:
        self.spark, self.h, self.inputs = spark, harness, inputs
        self.tables = os.path.join(inputs, "tables")
        self.oh = _oracle_harness()
        self.passes = 0

    def reference(self) -> None:
        with open(os.path.join(self.inputs, "plan.json")) as f:
            self.order = json.load(f)["spec_order"]
        con = self.oh.duck_connection(self.tables)
        try:
            self.expect = {name: self.oh.oracle_result(con, SPEC_BY_NAME[name])
                           for name in MODULE}
        finally:
            con.close()

    def warm(self) -> None:
        """The last pass of the plan, results unchecked."""
        for name in self.order[-1]:
            self.spark.catalog.clearCache()
            SPEC_BY_NAME[name].build(self.spark, self.tables).collect()
            release_plan_caches()

    def run_pass(self) -> None:
        for name in self.order[self.passes]:
            self._query(name)
        self.passes += 1

    def _query(self, name: str) -> None:
        spec = SPEC_BY_NAME[name]
        self.spark.catalog.clearCache()
        with self.h.op("b", name) as rec:
            with self.h.phase("build"):
                df = spec.build(self.spark, self.tables)
            with self.h.phase("collect"):
                rows = df.collect()
        rec["part"], rec["module"] = "spec", MODULE[name]
        release_plan_caches()
        self.h.check(rec, lambda: self._matches(name, df.schema, rows))

    def _matches(self, name: str, schema, rows) -> bool:
        """Hash-compare through pandas, as the oracle harness does."""
        pdf = self.spark.createDataFrame(rows, schema).toPandas()
        return self.oh._frame_result(pdf) == self.expect[name]
