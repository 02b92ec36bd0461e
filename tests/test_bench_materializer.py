"""bench.materialize must execute the FULL plan — the round-10 finding
was that .count() lets Catalyst prune every expression the count does
not need, so Window nodes and Python stages vanished from timed plans.
Pinned with an accumulator-bearing pandas stage: count() never runs
it, the noop sink always does."""

from __future__ import annotations

import pyspark.sql.functions as F


def _with_counted_python_stage(spark, df, acc):
    def tag(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    return df.mapInPandas(tag, df.schema)


def test_count_prunes_windows_but_materialize_keeps_them(spark):
    """The bug shape itself: an output window column nobody downstream
    consumes is absent from the counted plan and present in the
    materialized one. If the first assertion ever fails, Catalyst
    stopped pruning under count() and the materializer rationale in
    bench.py's docstring needs revisiting."""
    from pyspark.sql import Window

    base = spark.range(1000)

    w = Window.orderBy("id")
    windowed = base.withColumn("cum", F.sum("id").over(w))
    plan = windowed.groupBy().count()._jdf.queryExecution().executedPlan()
    assert "Window" not in plan.toString(), (
        "count() no longer prunes windows — materializer rationale "
        "changed, revisit bench.py docstring"
    )

    from bench import materialize

    full = windowed._jdf.queryExecution().executedPlan()
    materialize(windowed)
    # the noop sink's executed plan retains the Window node
    assert "Window" in full.toString()


def test_materialize_runs_every_output_column(spark):
    """A pandas stage feeding an output column must execute under
    materialize() — rows counted by the accumulator equal the input."""
    from bench import materialize

    acc = spark.sparkContext.accumulator(0)
    df = _with_counted_python_stage(spark, spark.range(257), acc)
    materialize(df)
    assert acc.value == 257, acc.value


def test_bare_bench_exports_sf_dir_before_the_session(monkeypatch):
    """A plain ``python bench.py`` must size shuffle partitions from the
    default dataset, as a caller-set SPARK_GRAFT_SF_DIR does: the
    default is exported before ``get_spark`` builds the session.
    Spark-free: the session factory is stubbed and stops ``main``."""
    import os

    import bench

    class _Stop(Exception):
        pass

    seen = {}

    def fake_get_spark(*_a, **_k):
        seen["sf_dir"] = os.environ.get("SPARK_GRAFT_SF_DIR")
        raise _Stop

    # setenv first so monkeypatch restores the variable's absence
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "unset")
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR")
    monkeypatch.setattr(bench, "load_registry", dict)
    monkeypatch.setattr(bench, "get_spark", fake_get_spark)
    try:
        bench.main()
    except _Stop:
        pass
    # the default dataset is the sf0.1 scale
    assert (seen.get("sf_dir") or "").endswith("sf0.1")
