"""Smoke test of the measurement harness: ``bench.py`` and every
``scripts/*.py`` import without running ``main``, and bench's tier timer
measures a registry query and records, rather than raises, a query that
fails."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = [os.path.join(REPO, "bench.py")] + sorted(
    glob.glob(os.path.join(REPO, "scripts", "*.py")))


def _import(path: str):
    name = "harness_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.parametrize("path", HARNESS, ids=os.path.basename)
def test_harness_module_imports(path):
    assert callable(_import(path).main)


def test_time_tier_times_a_query_and_records_a_failing_one(spark, sf_dir, monkeypatch):
    bench = _import(os.path.join(REPO, "bench.py"))
    monkeypatch.setitem(bench.QUERIES, "raises_at_execution", lambda spark, _sf: (
        spark.range(1).select(F.raise_error(F.lit("boom")))))
    errors: dict[str, str] = {}
    timings = bench.time_tier(
        spark, ["q6_forecast_revenue", "raises_at_execution"], sf_dir, sf_dir, 1, errors)
    assert list(timings) == ["q6_forecast_revenue"]
    assert timings["q6_forecast_revenue"] >= 0
    assert list(errors) == ["raises_at_execution"]
