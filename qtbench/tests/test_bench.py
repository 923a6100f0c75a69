"""The benchmark's own tests: generator determinism, the tail rule, the
event-log fold and the failure accounting of the output checks.

    python3 -m pytest qtbench/tests -q
"""

import json
import os

import numpy as np
import pytest

import checks
import gen
import metrics
import stats
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL = {"n_nodes": 2000, "n_ways": 400, "n_rels": 60, "docs_files": 2,
         "n_bbox_queries": 20, "n_region_queries": 20, "n_batch_cycles": 1}


# ------------------------------------------------------------ generator

def test_same_seed_same_checksum_other_seed_differs(tmp_path):
    a = gen.generate(7, str(tmp_path / "a"), SMALL)
    b = gen.generate(7, str(tmp_path / "b"), SMALL)
    c = gen.generate(8, str(tmp_path / "c"), SMALL)
    assert a["checksum"] == b["checksum"]
    assert a["checksum"] != c["checksum"]
    # sizes are fixed; only the content moves with the seed
    assert a["sizes"] == c["sizes"] | {"spans": a["sizes"]["spans"],
                                       "docs_parquet_bytes":
                                       a["sizes"]["docs_parquet_bytes"]}


def test_generated_docs_round_trip_through_truth(tmp_path):
    info = gen.generate(3, str(tmp_path), SMALL)
    truth = checks.Truth(str(tmp_path / "docs"))
    assert len(truth.node_xy) == SMALL["n_nodes"]
    assert len(truth.way_refs) == SMALL["n_ways"]
    assert len(truth.rel_members) == SMALL["n_rels"]
    assert info["sizes"]["docs"] == sum(SMALL[k] for k in
                                        ("n_nodes", "n_ways", "n_rels"))
    # every ref resolves, and nested relations point one level down
    assert all(r in truth.node_xy for refs in truth.way_refs.values()
               for r in refs)
    assert info["props"]["rel_depth"] == gen.PROPS["rel_depth"]
    assert any(mt == "r" for ms in truth.rel_members.values()
               for mt, _ in ms)


# ----------------------------------------------------------- tail rule

def test_tail_is_highest_level_with_ten_beyond():
    xs = list(range(1, 101))              # 100 samples
    t = stats.tail(xs)
    assert t["percentile"] == 90.0 and t["value"] == 90
    assert t["beyond"] == 10 and t["samples"] == 100
    t = stats.tail(list(range(1, 41)))    # 40 samples: p75 has 10 beyond
    assert t["percentile"] == 75.0 and t["beyond"] == 10
    t = stats.tail(list(range(1, 1001)))  # 1000 samples: p99
    assert t["percentile"] == 99.0


def test_tail_needs_twenty_samples():
    assert stats.tail(list(range(19))) is None
    assert stats.tail(list(range(20)))["percentile"] == 50.0


def test_percentile_is_nearest_rank():
    assert stats.percentile([5, 1, 3], 50) == 3
    assert stats.percentile([1, 2, 3, 4], 100) == 4
    assert stats.percentile([1, 2, 3, 4], 1) == 1


# ------------------------------------------------------- event-log fold

def test_fold_recorded_event_log():
    """The fixture is a Spark 4.1 event log of two job groups, trimmed to
    the fields the fold reads: g_udf sends 1000 rows through the cell UDF
    and shuffles them; g_scan reads a partition-pruned parquet table."""
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as f:
        groups = tracing.fold_event_log(f)
    udf, scan = groups["g_udf"], groups["g_scan"]
    # 1000 rows went through the cell UDF; none in the scan's job group
    assert udf["python_rows"] == 1000
    assert scan["python_rows"] == 0
    # the pruned scan read two of the ten partitions, each written as two
    # files by the two writing tasks
    assert scan["files_read"] == 4
    assert scan["scan_rows"] == 200
    assert udf["shuffle_write_bytes"] > 0 and udf["shuffle_read_bytes"] > 0
    assert len(udf["task_ms"]) >= 2 and udf["run_ms"] >= 0


def test_span_algebra_self_time_and_uncovered_share():
    spans = [
        {"id": "a", "name": "outer", "start": 0.0, "end": 10.0,
         "parent": None, "iteration": 0},
        {"id": "b", "name": "inner", "start": 2.0, "end": 5.0,
         "parent": "a", "iteration": 0},
        {"id": "c", "name": "later", "start": 12.0, "end": 16.0,
         "parent": None, "iteration": 0},
    ]
    st = tracing.self_times(spans)
    assert st == {"a": 7.0, "b": 3.0, "c": 4.0}
    assert tracing.uncovered_share(spans, [(0.0, 20.0)]) == [
        pytest.approx(0.3)]
    groups = {"a": tracing._new_group(), "b": tracing._new_group()}
    groups["a"]["run_ms"], groups["b"]["run_ms"] = 1000, 500
    agg = tracing.span_spark_metrics(spans, spans, groups)
    assert agg["outer"]["run_ms"] == 1500     # inclusive of the child
    assert agg["inner"]["run_ms"] == 500


# --------------------------------------------------------------- checks

class _Ctx:
    info = {"sizes": {}}


def _arrays():
    cells = np.array([  # three depth-18 cells and one shallow one
        0x0000000000000000 | 18, (1 << 40) | 18, (1 << 41) | 18, 5 << 59 | 3])
    return {"doc_id": np.array(["a", "b", "c", "d"], dtype=object),
            "kind": np.array(["node", "node", "way", "relation"],
                             dtype=object),
            "cell": cells.astype(np.int64),
            "minx": np.array([0, 100, 50, 0]),
            "miny": np.array([0, 100, 50, 0]),
            "maxx": np.array([0, 100, 400, 0]),
            "maxy": np.array([0, 100, 400, 0]),
            "has_bbox": np.array([True, True, True, False])}


def _checker(arrays):
    c = checks.Checker(_Ctx())
    c._arrays = ("layout", arrays)
    return c


def test_right_bbox_result_passes_and_planted_wrong_one_fails():
    a = _arrays()
    q = np.array([[40, 40, 120, 120]])
    right = checks.bbox_answer(a, q[0])
    assert sum(right.values()) == 2       # b and c, not a or the relation
    c = _checker(a)
    c.serve_results({"layout": "layout"}, q, [], [("bbox", 0, right)])
    assert c.failed_ops == 0
    planted = dict(right)
    k = next(iter(planted))
    planted[k] += 1
    c.serve_results({"layout": "layout"}, q, [], [("bbox", 0, planted),
                                                  ("bbox", 0, right)])
    assert c.failed_ops == 1 and "bbox query 0" in c.messages[0]


def test_planted_wrong_region_membership_fails():
    from osmquadtree_depreceated_spark.sources.poly import PolyRegion

    a = _arrays()
    square = PolyRegion(polys=[([-10, 150, 150, -10], [-10, -10, 150, 150])],
                        holes=[([90, 110, 110, 90], [90, 90, 110, 110])])
    # a is inside, b sits in the hole
    assert checks.region_member(square, 0, 0)
    assert not checks.region_member(square, 100, 100)
    c = _checker(a)
    c.serve_results({"layout": "layout"}, None, [square],
                    [("region", 0, {"a"}), ("region", 0, {"a", "b"})])
    assert c.failed_ops == 1


# ------------------------------------------------------- measured loop

class _Steps:
    """A workload whose input runs out after `n` steps."""

    def __init__(self, n):
        self.n = n

    def step(self):
        if self.n == 0:
            return None
        self.n -= 1
        return {"op": [0.001], "items": 1, "ops": 2}


def test_exhausted_input_ends_the_loop_without_a_failure():
    import run

    m = run.measure(_Steps(3), tracing.Tracer(), seconds=3600)
    assert m["ops"] == 6 and m["failed"] == 0
    assert len(m["op"]) == 3


def test_change_stream_of_one_cycle_runs_one_step(tmp_path, monkeypatch):
    import run
    import workloads

    info = gen.generate(4, str(tmp_path), SMALL)

    class Ctx:
        inputs = str(tmp_path)

    Ctx.info = info
    w = workloads.ChangeUpdate(Ctx())
    w.b = len(gen.PROPS["warmup_batches"])   # past the warm-up batches

    def batch():
        w.b += 1
        return 0.001, int(w.batch_sizes[w.b - 1])

    monkeypatch.setattr(w, "_batch", batch)
    m = run.measure(w, tracing.Tracer(), seconds=3600)
    assert m["failed"] == 0
    assert m["ops"] == len(gen.PROPS["batch_cycle"])
    assert m["items"] == sum(gen.PROPS["batch_cycle"])


# ------------------------------------------------------------ catalogue

def test_benchmark_json_mirrors_the_catalogue():
    root = os.path.dirname(os.path.dirname(HERE))
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("BENCHMARK.json not present")
    with open(path) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == [
        n for n, *_ in metrics.END_TO_END]
    assert [m["name"] for m in bench["per_layer"]] == [
        n for n, *_ in metrics.per_layer()]
    assert len(bench["per_layer"]) <= 128
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
