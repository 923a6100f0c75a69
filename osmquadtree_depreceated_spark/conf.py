"""Engine-level Spark conf the package requires for correct execution.

Applied at runtime (all entries are runtime-settable) by gate._prep,
tests/conftest, qtbench/env.py (whose session bench.py also uses) and the
spark-submit pipeline, so the engine is safe regardless of how the
hosting session was built.
"""

from __future__ import annotations


def apply_engine_conf(spark) -> None:
    """Set required runtime conf on an existing SparkSession.

    spark.sql.unionOutputPartitioning=false — Spark 4.1's union output
    partitioning propagation mis-plans a nested union -> distinct ->
    join shape (the update pipeline's plan before its change-sized sets
    were checkpointed; no current engine plan is known to hit it, so the
    override is defensive) when broadcast joins are disabled:
    UnionExec claims the children's common HashPartitioning(N) but
    SQLPartitioningAwareUnionRDD materializes mismatched child partition
    counts once unions nest, and the downstream SortMergeJoin dies with
    "Can't zip RDDs with unequal numbers of partitions: List(N, 2N)".
    Minimal repro + analysis: FIXTURES.md §"Spark 4.1 union output
    partitioning".  Disabling restores the pre-4.1 plan (an explicit
    exchange over the union) at the cost of at most one extra shuffle
    where the propagation was legitimate; the update path is the only
    measured consumer and its unions are change-sized (tiny), so the
    cost is negligible against a wrong-plan crash.
    spark.sql.sources.bucketing.enabled=true — Spark's default, set
    explicitly because the bucketed co-located join path
    (plans/bucketed.py, gate q60) REQUIRES bucket-aware scans: with the
    flag off the reader ignores bucket metadata, the join re-shuffles,
    and assert_colocated correctly refuses to run — so a hosting
    session that disabled bucketing for an unrelated reason would fail
    the gate.
    spark.sql.cteRecursionRowLimit=-1 — the relation closure
    (operators/calcqts.rel_paths) is a WITH RECURSIVE plan whose depth
    column bounds the recursion; its row count grows with the relation
    table (about 5 walks per rel->rel edge) and is not a termination
    guard.  Spark's default of 1,000,000 rows would fail a closure over
    200k+ nested-relation edges with RECURSION_ROW_LIMIT_EXCEEDED.
    All three confs are runtime-settable.
    """
    spark.conf.set("spark.sql.unionOutputPartitioning", "false")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.cteRecursionRowLimit", "-1")
