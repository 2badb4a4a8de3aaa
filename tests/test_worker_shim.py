"""pyworker_shim.sh: zip-stripping worker launcher (r17, guide §4)."""

from __future__ import annotations

import os
import subprocess
import sys

SHIM = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "rxlan_aws_lakehouse_spark",
    "pyworker_shim.sh",
)


def _run(env_extra: dict, pythonpath: str) -> str:
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SITE_OK", None)
    env["PYTHONPATH"] = pythonpath
    env["SPARK_GRAFT_REAL_PYTHON"] = sys.executable
    env.update(env_extra)
    out = subprocess.run(
        [SHIM, "-c", "import os; print(os.environ.get('PYTHONPATH', ''))"],
        env=env,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_shim_is_executable():
    assert os.access(SHIM, os.X_OK)


def test_strips_zip_entries_when_site_ok():
    pp = "/opt/x/pyspark.zip:/keep/me:/opt/x/py4j-0.10.9.9-src.zip:/also/keep"
    got = _run({"SPARK_GRAFT_SITE_OK": "1"}, pp)
    assert got == "/keep/me:/also/keep"


def test_passthrough_without_guard():
    pp = "/opt/x/pyspark.zip:/keep/me"
    got = _run({}, pp)
    assert got == pp


def test_worker_resolves_pyspark_from_site(tmp_path):
    # with the zips stripped, the interpreter must still import pyspark
    env = dict(os.environ)
    env["PYTHONPATH"] = "/opt/x/pyspark.zip"
    env["SPARK_GRAFT_SITE_OK"] = "1"
    env["SPARK_GRAFT_REAL_PYTHON"] = sys.executable
    out = subprocess.run(
        [SHIM, "-c", "import pyspark; print(pyspark.__file__)"],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert ".zip" not in out.stdout


def test_unresolvable_pyspark_python_is_left_alone(monkeypatch):
    """A caller-chosen PYSPARK_PYTHON that cannot be resolved is kept:
    the shim is not installed in its place."""
    from rxlan_aws_lakehouse_spark import session

    monkeypatch.delenv("SPARK_GRAFT_NO_WORKER_SHIM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_REAL_PYTHON", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SITE_OK", raising=False)
    monkeypatch.setenv("PYSPARK_PYTHON", "no-such-python-interpreter")
    session._install_worker_shim()
    assert os.environ["PYSPARK_PYTHON"] == "no-such-python-interpreter"
    assert "SPARK_GRAFT_REAL_PYTHON" not in os.environ
