"""The session's codegen settings: generated classes are keyed on plan
shape (no stage id in the class name) and the class cache holds the
registry's working set, so a plan that runs again in the same JVM
compiles nothing."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from wallet_and_risky_features_data_pipeline_spark.caching import timed_isolated
from wallet_and_risky_features_data_pipeline_spark.plans.registry import QUERIES
from wallet_and_risky_features_data_pipeline_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    codegen_compiles,
)

from .conftest import SF_SMALL


def _assert_rerun_compiles_nothing(spark, run) -> None:
    run()
    before = codegen_compiles(spark)
    run()
    compiled = codegen_compiles(spark) - before
    assert compiled == 0, (
        f"the second run compiled {compiled} new classes: the plan puts a "
        "run-varying value into generated code, or the codegen cache "
        "evicted the first run's classes"
    )


def test_shared_session_carries_codegen_settings(spark):
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )


def test_wallet_components_rerun_compiles_nothing(spark):
    """Iterative, and reads local checkpoints: every round's plan must
    hit the classes the first run compiled."""
    _assert_rerun_compiles_nothing(
        spark, lambda: timed_isolated(spark, QUERIES["wallet_components"], SF_SMALL)
    )


def test_run_varying_literal_in_generated_code_fails_loudly(spark):
    """An integral literal is inlined into the generated source, so a
    plan whose constant changes per run compiles a new class each run,
    and the check above must say so."""
    threshold = itertools.count(10_000_019)

    def run() -> None:
        df = spark.range(1000).where(F.col("id") * 7 > F.lit(next(threshold)))
        df.write.format("noop").mode("overwrite").save()

    with pytest.raises(AssertionError, match="compiled [1-9]"):
        _assert_rerun_compiles_nothing(spark, run)
