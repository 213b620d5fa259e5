"""The generated-class cache of sessions ``get_spark`` launches.

Spark's default cache holds 100 classes; one pass over the 17 ``olap_mix``
queries generates ~211, so with the default every pass evicted each class
before coming round to it again and recompiled ~212 of them."""

from __future__ import annotations

import ast
import os

from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES
from cdc_wastewater_analysis_ml_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _olap_mix() -> list[str]:
    """The benchmark's ``OLAP_MIX`` list, read from its source."""
    with open(os.path.join(ROOT, "perfbench", "run.py")) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "OLAP_MIX" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/run.py defines no OLAP_MIX")


def test_second_olap_mix_pass_compiles_no_class(spark, sf_small):
    names = _olap_mix()
    assert len(names) == 17 and set(names) <= set(QUERIES), names
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert conf == str(CODEGEN_CACHE_ENTRIES)
    compiled = []
    for _ in range(2):
        before = codegen_compiles(spark)
        for name in names:
            QUERIES[name](spark, sf_small).write.format("noop").mode("overwrite").save()
        compiled.append(codegen_compiles(spark) - before)
    assert compiled[1] == 0, compiled
