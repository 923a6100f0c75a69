"""Benchmark entry point.

    python3 qtbench/run.py --workload tile_build --seed 1 --seconds 10 \
        --trace 0

Generates the seeded inputs, starts a Spark session sized to the box, runs
one workload as a closed loop with one client for ``--seconds``, checks
every output and prints a report whose last line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` Spark's event log is
on, every other step runs with spans and job groups, and the metrics are
the per-layer ones.  Everything the run writes stays under ``.qtbench_work``
(removed at exit) and ``.qtbench_out`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import env  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

ENGINE = "osmquadtree_depreceated_spark"
MAX_CONSECUTIVE_ERRORS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=metrics.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_available() -> bool:
    sys.path.insert(0, ROOT)
    return importlib.util.find_spec(ENGINE) is not None


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def measure(w, tr, seconds: float) -> dict:
    """Run closed-loop steps for about `seconds`: after the first step, a
    step starts only if it should end less than half a step late.  A step
    that returns None has run out of input and ends the loop early.  A
    traced run alternates traced and untraced steps (at least one each),
    so the two are compared in the same session."""
    m = {"op": [], "bbox": [], "region": [], "batch": [], "items": 0,
         "ops": 0, "failed": 0, "windows": [], "untraced_op": []}
    errors = 0
    t0 = time.perf_counter()
    i, last = 0, 0.0
    min_steps = 2 if tr.enabled else 1
    while i < min_steps or time.perf_counter() - t0 + last / 2 < seconds:
        tr.iteration = i
        tr.active = tr.enabled and i % 2 == 0
        start = tr.now()
        try:
            res = w.step()
        except Exception:
            traceback.print_exc()
            m["ops"] += 1
            m["failed"] += 1
            errors += 1
            if errors >= MAX_CONSECUTIVE_ERRORS:
                break
            continue
        if res is None:
            break
        errors = 0
        last = tr.now() - start
        if tr.enabled and not tr.active:
            m["untraced_op"].extend(res["op"])
        else:
            m["windows"].append((start, tr.now()))
            for k in ("op", "bbox", "region", "batch"):
                m[k].extend(res.get(k, []))
        m["items"] += res["items"]
        m["ops"] += res["ops"]
        i += 1
    m["elapsed"] = time.perf_counter() - t0
    tr.iteration = tracing.WARM_UP
    tr.active = tr.enabled
    return m


def run_session(args, b, work, inputs, info, traced: bool,
                seconds: float) -> dict:
    """One session: set up, warm up, measure, check."""
    import workloads

    log_dir = os.path.join(work, "eventlog") if traced else None
    t = time.perf_counter()
    spark = env.start_session(b, work, log_dir)
    session_s = time.perf_counter() - t
    out = {"session_s": session_s, "settings": env.effective_conf(spark),
           "calibration": {
               "busy_loop_kops": env.busy_loop_rate(),
               "zero_work_action_ms": env.zero_work_action_ms(spark)}}
    tr = tracing.Tracer(spark.sparkContext if traced else None, args.workload)
    ctx = workloads.Ctx(spark, tr, inputs, os.path.join(work, "data"), info)
    w = workloads.WORKLOADS[args.workload](ctx)
    try:
        tr.iteration = tracing.SETUP
        out["prep_s"] = timed(w.prepare)
        tr.iteration = tracing.WARM_UP
        out["warm_up_s"] = timed(w.warm_up)
        m = measure(w, tr, seconds)
        out["measure"] = m
        out["extra"] = w.extra() if m["op"] else {}
        if traced:
            tr.iteration = tracing.PROBE
            w.probes(out.setdefault("probes", {}))
        if m["op"]:
            out["check_s"] = timed(lambda: w.check(m["ops"]))
        m["failed"] += w.checker.failed_ops
        out["check_messages"] = w.checker.messages
    finally:
        env.stop_session(spark)
    out["tracer"] = tr
    out["event_log"] = log_dir
    return out


def e2e_metrics(args, info, phase, peak_mb) -> tuple:
    m = phase["measure"]
    setup_s = phase["session_s"] + phase["prep_s"] + phase["warm_up_s"]
    json_metrics = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    rep = {"setup_s": (setup_s, "s", None),
           "op_p50_ms": (stats.median(m["op"]) * 1000, "ms",
                         f"{len(m['op'])} ops"),
           "peak_rss_mb": (peak_mb, "MB", None),
           "ops_failed_ratio": (m["failed"] / max(m["ops"], 1), "ratio",
                                f"{m['failed']} of {m['ops']} operations")}

    def tail(xs, scale, unit):
        t = stats.tail(xs)
        if t is None:
            return (None, unit, f"{len(xs)} samples; a tail needs "
                    f"{2 * stats.TAIL_MIN_BEYOND}")
        return (t["value"] * scale, unit,
                f"p{t['percentile']:g} of {t['samples']} samples, "
                f"{t['beyond']} beyond")

    if args.workload == "tile_build":
        docs = info["sizes"]["docs"]
        rep["build_docs_per_s"] = (
            docs / stats.median(m["op"]), "docs/s",
            f"{docs} docs per build, median of {len(m['op'])} builds")
        rep["build_bytes_per_input_byte"] = (
            phase["extra"]["build_bytes_per_input_byte"], "ratio",
            f"of {info['sizes']['docs_parquet_bytes']} input bytes")
    elif args.workload == "tile_serve":
        rep["serve_bbox_p50_ms"] = (stats.median(m["bbox"]) * 1000, "ms",
                                    f"{len(m['bbox'])} queries")
        rep["serve_bbox_tail_ms"] = tail(m["bbox"], 1000, "ms")
        rep["serve_region_p50_ms"] = (stats.median(m["region"]) * 1000, "ms",
                                      f"{len(m['region'])} queries")
        rep["serve_region_tail_ms"] = tail(m["region"], 1000, "ms")
        rep["serve_qps"] = (m["items"] / m["elapsed"], "queries/s",
                            "one client")
    else:
        rep["update_batch_p50_s"] = (stats.median(m["batch"]), "s",
                                     f"{len(m['batch'])} batches")
        rep["update_batch_tail_s"] = tail(m["batch"], 1, "s")
        rep["update_bytes_per_changed_node"] = (
            phase["extra"]["update_bytes_per_changed_node"], "bytes",
            f"{m['items']} changed nodes")
        rep["update_changed_nodes_per_s"] = (m["items"] / m["elapsed"],
                                             "nodes/s", "one client")
    return json_metrics, rep


def layer_metrics(traced) -> tuple:
    """Per-layer metrics from the traced phase's spans, counts, probes and
    folded event log.  A layer's numbers come from the measured loop and
    the probes; a layer that only runs during set-up (calcqts and the
    pyramid inside change_update's set-up) is read from its set-up
    spans."""
    tr = traced["tracer"]
    groups = tracing.read_event_log(traced["event_log"])
    main = [s for s in tr.spans
            if s["iteration"] >= 0 or s["iteration"] == tracing.PROBE]
    in_main = {s["name"] for s in main}
    spans = main + [s for s in tr.spans if s["iteration"] == tracing.SETUP
                    and s["name"] not in in_main]
    m = traced["measure"]
    ops = max(m["ops"], 1)
    by_name: dict = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    agg = tracing.span_spark_metrics(tr.spans, spans, groups)
    out = {name: 0.0 for name, *_ in metrics.per_layer()}

    def mean_dur(name):
        ss = by_name.get(name, [])
        return (sum(s["end"] - s["start"] for s in ss) / len(ss)) if ss else 0

    def mean_count(name, key):
        vals = [s["counts"][key] for s in by_name.get(name, [])
                if key in s["counts"]]
        return sum(vals) / len(vals) if vals else 0.0

    for name, *_ in metrics.per_layer():
        stem, _, suffix = name.rpartition(".")
        if suffix == "s" and stem in by_name:
            out[name] = mean_dur(stem)
    for span, (suffixes, _, _) in metrics.SPAN_SUFFIXES.items():
        if span in agg:
            sx = tracing.spark_suffixes(agg[span])
            for s in suffixes:
                out[f"{span}.{s}"] = sx[s]
    out.update({k: v for k, v in traced.get("probes", {}).items()
                if not k.startswith("_")})

    def py_rows(name):
        a = agg.get(name)
        return a["python_rows"] if a else 0

    measured = {s["id"] for s in spans if s["iteration"] >= 0}
    out["functions.python_rows"] = sum(
        g["python_rows"] for sid, g in groups.items() if sid in measured) / ops
    n_b = len(by_name.get("plans.partitioned.pruned_tile_scan", []))
    n_r = len(by_name.get("sources.poly.poly_region_filter", []))
    out["functions.python_rows.bbox_queries"] = (
        py_rows("plans.partitioned.pruned_tile_scan") / max(n_b, 1))
    out["functions.python_rows.region_queries"] = (
        py_rows("sources.poly.poly_region_filter") / max(n_r, 1))

    scan = "plans.partitioned.pruned_tile_scan"
    poly = "sources.poly.poly_region_filter"
    for stem in (scan, poly):
        out[f"{stem}.plan_ms"] = mean_count(stem, "plan_ms")
        out[f"{stem}.exec_ms"] = mean_count(stem, "exec_ms")
    returned = sum(s["counts"].get("rows_returned", 0)
                   for s in by_name.get(scan, []))
    if scan in agg:
        out[f"{scan}.files_read"] = agg[scan]["files_read"] / max(n_b, 1)
        out[f"{scan}.rows_read_per_row_returned"] = (
            agg[scan]["scan_rows"] / max(returned, 1))
    returned = sum(s["counts"].get("rows_returned", 0)
                   for s in by_name.get(poly, []))
    out[f"{poly}.rows_tested_per_row_returned"] = (
        py_rows(poly) / max(returned, 1))
    upd = "operators.update.calc_update_tiles"
    for k in ("affected_ways", "affected_nodes", "affected_tiles"):
        out[f"{upd}.{k}"] = mean_count(upd, k)
    out["plans.lineage.SnapshotStore.write.bytes"] = mean_count(
        "plans.lineage.SnapshotStore.write", "bytes")
    wcp = "plans.partitioned.write_cell_partitioned"
    out[f"{wcp}.files"] = mean_count(wcp, "files")
    out[f"{wcp}.bytes"] = mean_count(wcp, "bytes")

    kernel_s = traced["probes"]["_kernel_s"]
    udf_task = tracing.spark_suffixes(agg["functions.cell_of_bbox_udf"])
    native_task = tracing.spark_suffixes(agg["probe.native_projection"])
    out["functions.cell_of_bbox_udf.boundary_s"] = (
        udf_task["task_s"] - native_task["task_s"] - kernel_s)

    p_med = stats.median(m["untraced_op"])
    t_med = stats.median(m["op"])
    out["trace.overhead_share"] = (t_med - p_med) / p_med
    unc = tracing.uncovered_share(
        [s for s in spans if s["iteration"] >= 0], m["windows"])
    out["trace.uncovered_share"] = stats.median(unc) if unc else 0.0
    extra = {"overhead_ms": (t_med - p_med) * 1000,
             "untraced_op_p50_ms": p_med * 1000,
             "traced_op_p50_ms": t_med * 1000}
    return out, extra, spans


def print_self_times(all_spans, spans):
    st = tracing.self_times(all_spans)
    tot: dict = {}
    for s in spans:
        a = tot.setdefault(s["name"], [0, 0.0, 0.0])
        a[0] += 1
        a[1] += s["end"] - s["start"]
        a[2] += st[s["id"]]
    print("span self time (s), measured phase and probes:")
    print(f"  {'span':58s} {'calls':>5s} {'total':>8s} {'self':>8s}")
    for name, (n, total, own) in sorted(tot.items(), key=lambda kv: -kv[1][2]):
        print(f"  {name:58s} {n:5d} {total:8.3f} {own:8.3f}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    if not engine_available():
        print(f"the engine package {ENGINE} is not importable from {ROOT}",
              file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".qtbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".qtbench_out", tag)
    os.makedirs(out_dir, exist_ok=True)
    env.launch_env(ROOT, work)
    try:
        return _run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, out_dir) -> int:
    inputs = os.path.join(work, "inputs")
    t = time.perf_counter()
    info = gen.generate(args.seed, inputs)
    info["generate_s"] = time.perf_counter() - t
    b = env.box()

    with env.RssSampler() as rss:
        phase = run_session(args, b, work, inputs, info, bool(args.trace),
                            args.seconds)
    attempted = phase["measure"]["ops"]
    failed = phase["measure"]["failed"]

    print(f"qtbench {args.workload} seed={args.seed} seconds={args.seconds:g}"
          f" trace={args.trace}")
    print(f"inputs: {json.dumps(info)}")
    print(f"box: {json.dumps(b)}")
    print(f"settings: {json.dumps(phase['settings'])}")
    print("calibration: busy_loop_kops={busy_loop_kops:.0f} "
          "zero_work_action_ms={zero_work_action_ms:.1f}".format(
              **phase["calibration"]))
    print("setup: session_s={:.2f} prep_s={:.2f} warm_up_s={:.2f}; "
          "outside it: generate_s={:.2f} check_s={:.2f}".format(
              phase["session_s"], phase["prep_s"], phase["warm_up_s"],
              info["generate_s"], phase.get("check_s", 0.0)))
    for msg in phase["check_messages"]:
        print(f"CHECK FAILED: {msg}")
    record = {"workload": args.workload, "seed": args.seed,
              "inputs": info, "box": b, "settings": phase["settings"],
              "calibration": phase["calibration"],
              "peak_mb_by_role": {k: v / 1024 for k, v in
                                  rss.peak_by_role.items()},
              "setup": {"session_s": phase["session_s"],
                        "prep_s": phase["prep_s"],
                        "warm_up_s": phase["warm_up_s"]}}

    if not phase["measure"]["op"] or (
            args.trace and not phase["measure"]["untraced_op"]):
        print("no operation completed", file=sys.stderr)
        return 1

    if args.trace:
        layer, extra, spans = layer_metrics(phase)
        print_self_times(phase["tracer"].spans, spans)
        print("per-layer metrics (per call unless the name says otherwise):")
        for name, unit, _, moves, wl in metrics.per_layer():
            print(f"  {name:66s} {layer[name]:14.6g} {unit:6s} -> {moves}"
                  f" [{wl}]")
        print(f"tracing overhead: {extra['overhead_ms']:.1f} ms per op "
              f"(traced {extra['traced_op_p50_ms']:.1f} vs untraced "
              f"{extra['untraced_op_p50_ms']:.1f} ms, "
              f"{layer['trace.overhead_share']:+.1%})")
        print(f"uncovered share of iteration wall time: "
              f"{layer['trace.uncovered_share']:.1%}")
        phase["tracer"].write(os.path.join(out_dir, "spans.json"))
        record["per_layer"] = layer
        record["trace"] = extra
        result_metrics = {n: {"value": layer[n], "unit": u}
                          for n, u, *_ in metrics.per_layer()}
    else:
        jm, rep = e2e_metrics(args, info, phase, rss.peak_mb)
        for name, (v, unit, note) in rep.items():
            shown = "n/a" if v is None else f"{v:.6g} {unit}"
            print(f"{name} = {shown}" + (f"  ({note})" if note else ""))
        record["reported"] = {k: {"value": v, "unit": u, "note": n}
                              for k, (v, u, n) in rep.items()}
        result_metrics = {n: {"value": v, "unit": u}
                          for n, (v, u) in jm.items()}
    with open(os.path.join(out_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result_metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
