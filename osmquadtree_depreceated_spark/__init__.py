"""osmquadtree_depreceated_spark — a from-scratch PySpark-native quadtree tiling
and spatial-join engine with the capabilities of the `osmquadtree` reference
(jharris2268/osmquadtree-depreceated, read-only at /root/reference).

Architecture (Spark-first, NOT a port):
  * qtcore/     pure-NumPy quadtree cell algebra (the golden math) + a literal
                scalar oracle used only by tests.
  * functions/  Spark Column expression builders: native closed-form point-cell
                keys (whole-stage-codegen, zero Python in the hot path), the
                distributed Common-ancestor aggregate as min/max + bit math,
                text analysis, similarity hashing.
  * sources/    docs(doc_id, spans) codec + deterministic synthetic generators;
                TPC-H-derived spatial table synthesis used by the driver gate.
  * operators/  calcqts pipeline, tile grouping, spatial joins (bbox, pnpoly,
                kNN), geometry construction, dedup, ANN, incremental update.
  * plans/      lineage + snapshot/resume bookkeeping (Parquet-backed locally,
                Iceberg-shaped API for production).
  * oracle/     programmatic DuckDB SQL generators mirroring every operator so
                the driver's side-by-side correctness gate has a true oracle.
"""

__version__ = "0.1.0"


def _default_launch_env() -> None:
    """Fill launch-time engine defaults (core Spark conf that must exist
    BEFORE the JVM/SparkContext starts; runtime-settable conf lives in
    conf.apply_engine_conf).  Harness entrypoints (bench.py, qtbench,
    tools/check_gates.py, __spark_entry__) import this package before
    building their session, so the default lands; anything already set in
    the environment wins, and a session created before this import is
    simply unaffected (this is a performance setting, not semantics).

    spark.shuffle.sort.bypassMergeThreshold=7 — with R reduce partitions
    the bypass-merge shuffle writer creates R files per map task; on a
    virtio ext4 scratch disk the per-file open/commit cost made a 4 MB
    64x64 shuffle spend ~0.25 s PER TASK in shuffle write (~30 s of
    executor time inside a 1.4 s job; microbench in OPTIMIZATION_r06.md).
    At production scale R >> 200, so Spark uses the serialized sort
    writer anyway — pinning it locally makes the local shuffle path MATCH
    the production writer and measured ~3.5x faster wall on the same
    shuffle.  Where shuffle scratch goes (SPARK_LOCAL_DIRS) is left to
    the caller.
    """
    import os

    existing = os.environ.get("PYSPARK_SUBMIT_ARGS")
    if existing is None:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.shuffle.sort.bypassMergeThreshold=7 pyspark-shell"
        )
    elif "spark.shuffle.sort.bypassMergeThreshold" not in existing:
        # A harness that pre-sets PYSPARK_SUBMIT_ARGS (its own memory or
        # packages flags) still gets the writer default: prepend our
        # --conf, keeping the caller's args (and their trailing primary
        # resource, e.g. "pyspark-shell") intact.  An explicit
        # bypassMergeThreshold anywhere in the caller's args wins.
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.shuffle.sort.bypassMergeThreshold=7 " + existing
        )


_default_launch_env()
