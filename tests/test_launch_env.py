"""_default_launch_env fills launch-time defaults without clobbering an
environment that has already made its own choices (r06: the shuffle-writer
default must survive a harness that pre-sets PYSPARK_SUBMIT_ARGS for
unrelated flags — env always wins on explicit settings)."""

import os

from osmquadtree_depreceated_spark import _default_launch_env

_BMT = "spark.shuffle.sort.bypassMergeThreshold"


def _with_env(monkeypatch, **kv):
    for k in ("PYSPARK_SUBMIT_ARGS", "SPARK_LOCAL_DIRS"):
        monkeypatch.delenv(k, raising=False)
    for k, v in kv.items():
        monkeypatch.setenv(k, v)


def test_submit_args_default_when_unset(monkeypatch):
    _with_env(monkeypatch)
    _default_launch_env()
    args = os.environ["PYSPARK_SUBMIT_ARGS"]
    assert f"--conf {_BMT}=7" in args
    assert args.endswith("pyspark-shell")
    # shuffle scratch placement is the caller's choice
    assert "SPARK_LOCAL_DIRS" not in os.environ


def test_submit_args_merged_when_preset(monkeypatch):
    _with_env(monkeypatch,
              PYSPARK_SUBMIT_ARGS="--driver-memory 4g pyspark-shell")
    _default_launch_env()
    args = os.environ["PYSPARK_SUBMIT_ARGS"]
    assert f"--conf {_BMT}=7" in args
    assert "--driver-memory 4g" in args
    assert args.endswith("pyspark-shell")


def test_submit_args_explicit_threshold_wins(monkeypatch):
    preset = f"--conf {_BMT}=200 pyspark-shell"
    _with_env(monkeypatch, PYSPARK_SUBMIT_ARGS=preset)
    _default_launch_env()
    assert os.environ["PYSPARK_SUBMIT_ARGS"] == preset

