#!/usr/bin/env python
"""Run a subset (or all) of the gate queries against their DuckDB oracles
at sf0.01 — the driver's CORRECTNESS check, locally.

usage: python tools/check_gates.py [q47_poly_filter q15_lang_id ...]
(no args = every gate)
"""

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from osmquadtree_depreceated_spark import gate

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def vhash(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        pdf[c] = pdf[c].astype(str)
    return hashlib.sha256(
        pdf.sort_values(list(pdf.columns)).to_csv(index=False).encode()
    ).hexdigest()[:12]


def main():
    names = sys.argv[1:] or sorted(gate.GATE_QUERIES)
    from pyspark.sql import SparkSession

    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CHECK_CPUS",
                                  len(os.sched_getaffinity(0))))
    except ValueError:
        sys.exit("SPARK_GRAFT_CHECK_CPUS must be an integer thread count "
                 "(it sizes both local[N] and the shuffle partitions)")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        # sf0.1 stress sessions at DEFAULT driver memory: the 10MB
        # auto-broadcast threshold broadcasts fact tables at sandbox
        # sizes and OOMs a 1g driver over a long multi-query session
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"create view {t} as select * from "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    fails = 0
    for name in names:
        t0 = time.time()
        try:
            got = gate.GATE_QUERIES[name](spark, SF).toPandas()
            if name in gate.GATE_ORACLES:
                want = con.execute(gate.GATE_ORACLES[name]).fetchdf()
                ok = (sorted(got.columns) == sorted(want.columns)
                      and len(got) == len(want) and vhash(got) == vhash(want))
                detail = f"spark={len(got)} oracle={len(want)}"
                if not ok and sorted(got.columns) != sorted(want.columns):
                    detail += (f" cols spark={sorted(got.columns)}"
                               f" oracle={sorted(want.columns)}")
            else:
                ok, detail = len(got) >= 0, f"rows-only spark={len(got)}"
        except Exception as e:  # noqa: BLE001
            ok, detail = False, f"ERR {type(e).__name__}: {e}"
        fails += 0 if ok else 1
        print(("OK  " if ok else "FAIL"), name, detail,
              f"[{time.time() - t0:.1f}s]", flush=True)
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
