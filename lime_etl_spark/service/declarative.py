"""Spark Declarative Pipelines (SDP) adapter.

lime-etl's batch/job model is imperative orchestration (reference
``batch_runner.py``: run jobs in dependency order, bookkeep results).
Spark 4.1 ships its own declarative answer — ``pyspark.pipelines``
(@materialized_view / @table query functions, dependency-resolved by
the engine, run via the ``spark-pipelines`` CLI over Spark Connect).

This module makes our engine a citizen of that format in both
directions:

- ``declare_pipeline(defs)`` captures the graph a user writes with
  the REAL SDP decorators (``pyspark.pipelines.api``) into a local
  registry — the same registration path the CLI uses, no Connect
  needed.
- ``run_pipeline_local(spark, registry, storage)`` executes the
  captured graph on a classic session: flows run in dependency order
  (discovered by fixpoint — a flow that reads a not-yet-materialized
  table is retried after its inputs land, exactly the resolution SDP
  performs on unresolved plans server-side), each materialized view
  written to ``storage/<name>`` as parquet and registered as a temp
  view for downstream flows. A view is swapped in whole by
  ``sources/fs.py``'s ``overwrite_dir``, so a failed rerun leaves the
  previous one readable, and its row count is an ``Observation`` on
  the write.
- On a cluster with Spark Connect, the SAME definition module runs
  under ``spark-pipelines run`` untouched; this local runner is the
  test/dev path (this container has no grpc, the Connect client's
  transport — gated like JDBC/Kafka/TWS).

Scale: the runner is pure coordination — every flow body is a
DataFrame query planned by Catalyst; materialization is one
distributed parquet write per view. Fixpoint retries are driver-only
plan analyses (the failed lookup raises before any job runs), so
dependency discovery costs zero executor time.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from pyspark.pipelines.flow import Flow
from pyspark.pipelines.graph_element_registry import (
    GraphElementRegistry,
    graph_element_registration_context,
)
from pyspark.pipelines.output import Output, TemporaryView

from lime_etl_spark.sources.fs import overwrite_dir
from lime_etl_spark.sources.readers import read_parquet


@dataclass
class CollectedGraph(GraphElementRegistry):
    """A local GraphElementRegistry: captures the outputs/flows that
    ``pyspark.pipelines.api`` decorators register (the CLI's
    SparkConnectGraphElementRegistry ships them to the server; we
    keep them)."""

    outputs: list[Output] = field(default_factory=list)
    flows: list[Flow] = field(default_factory=list)
    sql_texts: list[str] = field(default_factory=list)

    def register_output(self, output: Output) -> None:
        self.outputs.append(output)

    def register_flow(self, flow: Flow) -> None:
        self.flows.append(flow)

    def register_sql(self, sql_text: str, file_path: Path) -> None:
        self.sql_texts.append(sql_text)

    def output_names(self) -> list[str]:
        return [o.name for o in self.outputs]


def declare_pipeline(defs: Callable[[], None]) -> CollectedGraph:
    """Run ``defs`` (a function whose body uses the real SDP
    decorators — ``from pyspark.pipelines import materialized_view``)
    and return the captured graph."""
    graph = CollectedGraph()
    with graph_element_registration_context(graph):
        defs()
    return graph


class PipelineCycleError(RuntimeError):
    """No flow could make progress — circular or missing dependency."""


def run_pipeline_local(
    spark: SparkSession,
    graph: CollectedGraph,
    storage: str,
    max_rounds: int | None = None,
) -> dict[str, int]:
    """Execute a captured graph on a classic (non-Connect) session.

    Returns ``{view_name: row_count}``. Dependency order is
    discovered by fixpoint: each round, every still-pending flow is
    attempted; a flow whose query references a table that hasn't
    materialized yet fails ANALYSIS (driver-side, before execution)
    and stays pending. A round with zero progress = cycle or a
    genuinely missing table → PipelineCycleError listing survivors.
    Rounds needed = graph depth, each retry costing only a plan
    analysis.
    """
    from pyspark.errors import AnalysisException

    pending = list(graph.flows)
    temp_views = {o.name for o in graph.outputs if isinstance(o, TemporaryView)}
    results: dict[str, int] = {}
    rounds = max_rounds or (len(pending) + 1)
    for _ in range(rounds):
        if not pending:
            break
        progressed = []
        still = []
        for flow in pending:
            try:
                df = flow.func()
            except AnalysisException as e:
                if "TABLE_OR_VIEW_NOT_FOUND" in str(e):
                    still.append(flow)
                    continue
                raise
            if flow.target in temp_views:
                df.createOrReplaceTempView(flow.target)
                results[flow.target] = -1  # views are not materialized
            else:
                path = f"{storage.rstrip('/')}/{flow.target}"
                obs = Observation(f"{flow.target}_materialize")
                counted = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                overwrite_dir(spark, path, counted.write.parquet)
                read_parquet(spark, path).createOrReplaceTempView(flow.target)
                results[flow.target] = obs.get["rows"]
            progressed.append(flow)
        if not progressed:
            raise PipelineCycleError(
                "no flow could make progress; unresolved: "
                + ", ".join(f.name for f in still)
            )
        pending = still
    if pending:
        raise PipelineCycleError(
            "round budget exhausted; unresolved: " + ", ".join(f.name for f in pending)
        )
    return results


def connect_available() -> bool:
    """True when the Spark Connect client stack (grpc) is importable —
    the prerequisite for running the same graph via the
    ``spark-pipelines`` CLI instead of the local runner."""
    try:
        import grpc  # noqa: F401

        return True
    except ImportError:
        return False
