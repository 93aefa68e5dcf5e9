"""SDP adapter: declare a pipeline with Spark's own
pyspark.pipelines decorators, capture the graph locally, and execute
it with the dependency-fixpoint runner."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lime_etl_spark.service.declarative import (
    CollectedGraph,
    PipelineCycleError,
    connect_available,
    declare_pipeline,
    run_pipeline_local,
)
from lime_etl_spark.sources.readers import load_table


def _three_stage_defs(spark, sf_dir):
    """stage → clean → rollup declared with the REAL SDP decorators."""
    from pyspark.pipelines import materialized_view, temporary_view

    def defs():
        @materialized_view(name="stage_orders")
        def stage_orders():
            return load_table(spark, sf_dir, "orders")

        @temporary_view(name="open_orders")
        def open_orders():
            return spark.table("stage_orders").where(F.col("o_orderstatus") == "O")

        @materialized_view(name="priority_rollup")
        def priority_rollup():
            return (
                spark.table("open_orders")
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"))
            )

    return defs


def test_declare_captures_graph(spark, sf_dir):
    graph = declare_pipeline(_three_stage_defs(spark, sf_dir))
    assert sorted(graph.output_names()) == [
        "open_orders",
        "priority_rollup",
        "stage_orders",
    ]
    assert sorted(f.target for f in graph.flows) == [
        "open_orders",
        "priority_rollup",
        "stage_orders",
    ]


def test_local_runner_resolves_dependencies_in_any_order(spark, sf_dir, tmp_path):
    """Flows are registered rollup-last here, but the runner must work
    regardless of declaration order — reverse the flow list to force
    the fixpoint to retry."""
    graph = declare_pipeline(_three_stage_defs(spark, sf_dir))
    graph.flows.reverse()
    results = run_pipeline_local(spark, graph, str(tmp_path / "pipe"))

    orders = load_table(spark, sf_dir, "orders")
    assert results["stage_orders"] == orders.count()
    assert results["open_orders"] == -1  # temp view: not materialized
    want = (
        orders.where(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .count()
        .count()
    )
    assert results["priority_rollup"] == want
    # materialized views are real parquet, re-readable cold
    assert spark.read.parquet(str(tmp_path / "pipe" / "priority_rollup")).count() == want


def test_failed_rerun_keeps_the_previous_materialization(spark, tmp_path):
    """A view is swapped in whole: a rerun whose flow fails while it
    writes leaves the first materialization readable with all its rows."""
    from pyspark.pipelines import materialized_view

    def graph(value):
        def defs():
            @materialized_view(name="numbers")
            def numbers():
                return spark.range(100).withColumn("v", value)

        return declare_pipeline(defs)

    storage = str(tmp_path / "pipe")
    assert run_pipeline_local(spark, graph(F.col("id") * 2), storage) == {"numbers": 100}
    with pytest.raises(Exception, match="boom"):
        run_pipeline_local(spark, graph(F.raise_error(F.lit("boom")).cast("long")), storage)
    again = spark.read.parquet(str(tmp_path / "pipe" / "numbers"))
    assert again.count() == 100
    assert again.agg(F.sum("v")).first()[0] == 2 * sum(range(100))


def test_cycle_raises(spark):
    from pyspark.pipelines import materialized_view

    def defs():
        @materialized_view(name="a")
        def a():
            return spark.table("b")

        @materialized_view(name="b")
        def b():
            return spark.table("a")

    graph = declare_pipeline(defs)
    with pytest.raises(PipelineCycleError):
        run_pipeline_local(spark, graph, "/tmp/never_used")


def test_connect_gate_matches_environment():
    """This container has no grpc — the Connect/CLI execution path
    must report unavailable (and the local runner is the test path).
    On a real cluster with grpc installed the same graph runs under
    `spark-pipelines run` unchanged."""
    assert connect_available() is False


def test_collected_graph_is_a_real_registry():
    """The capture registry must satisfy SDP's abstract interface —
    guarding against upstream signature drift."""
    from pyspark.pipelines.graph_element_registry import GraphElementRegistry

    assert issubclass(CollectedGraph, GraphElementRegistry)
    g = CollectedGraph()
    g.register_sql("SELECT 1", __import__("pathlib").Path("x.sql"))
    assert g.sql_texts == ["SELECT 1"]
