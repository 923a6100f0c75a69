"""oracle_sql() must render byte-identical SQL in every process.

Gate results are compared against oracle text rendered in whatever process
runs the comparison, so any set or dict iteration order that leaks into the
SQL (string hashing is salted per process) would change an oracle between
runs.  Two subprocesses with different PYTHONHASHSEED values over the same
parquet must hash the whole oracle dict identically.
"""

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_HASH_ORACLES = """
import hashlib, importlib.util, json, sys
spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
oracles = mod.oracle_sql()
text = json.dumps(oracles, sort_keys=True)
print(len(oracles), hashlib.sha256(text.encode()).hexdigest())
"""


def _oracle_digest(seed: str, sf_dir: str) -> str:
    env = dict(os.environ, PYTHONHASHSEED=seed,
               SPARK_GRAFT_TEST_SF_DIR=sf_dir)
    r = subprocess.run(
        [sys.executable, "-c", _HASH_ORACLES,
         str(ROOT / "__spark_entry__.py")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return r.stdout.strip().splitlines()[-1]


def test_oracle_sql_is_stable_across_processes(sf_dir):
    a = _oracle_digest("1", sf_dir)
    b = _oracle_digest("2", sf_dir)
    assert int(a.split()[0]) > 0
    assert a == b
