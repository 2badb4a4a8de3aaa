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


def _shim_env(monkeypatch, **env):
    """Start from no shim state; every variable the install sets is
    restored (or removed) at teardown."""
    for k in (
        "SPARK_GRAFT_NO_WORKER_SHIM",
        "SPARK_GRAFT_REAL_PYTHON",
        "SPARK_GRAFT_SITE_OK",
        "PYSPARK_PYTHON",
        "PYTHONPATH",
    ):
        monkeypatch.setenv(k, "")
        monkeypatch.delenv(k)
    for k, v in env.items():
        monkeypatch.setenv(k, v)


def test_probe_keeps_non_zip_pythonpath_entries(monkeypatch, tmp_path):
    """A PYTHONPATH entry that shadows pyspark with another version stays
    on the workers' path, so the probe must see it and keep the shim off."""
    from rxlan_aws_lakehouse_spark import session

    shadow = tmp_path / "shadow" / "pyspark"
    shadow.mkdir(parents=True)
    (shadow / "__init__.py").write_text("__version__ = '0.0.0'\n")
    _shim_env(
        monkeypatch,
        PYTHONPATH=f"/opt/x/pyspark.zip{os.pathsep}{shadow.parent}",
    )
    session._install_worker_shim()
    assert "PYSPARK_PYTHON" not in os.environ
    assert "SPARK_GRAFT_SITE_OK" not in os.environ


def test_probe_rejects_a_worker_pyspark_of_another_version(
    monkeypatch, tmp_path
):
    """A worker interpreter whose pyspark is not the driver's version
    keeps the zip (and so the JVM-matched pyspark) on its path."""
    from rxlan_aws_lakehouse_spark import session

    other = tmp_path / "other-python"
    other.write_text("#!/bin/sh\necho 0.0.0\n")
    other.chmod(0o755)
    _shim_env(monkeypatch, PYSPARK_PYTHON=str(other))
    session._install_worker_shim()
    assert os.environ["PYSPARK_PYTHON"] == str(other)
    assert "SPARK_GRAFT_SITE_OK" not in os.environ


def test_probe_engages_when_only_zips_are_stripped(monkeypatch, tmp_path):
    """Zip entries removed, a harmless entry kept, same pyspark version:
    the shim is installed."""
    from rxlan_aws_lakehouse_spark import session

    _shim_env(
        monkeypatch,
        PYTHONPATH=f"/opt/x/pyspark.zip{os.pathsep}{tmp_path}"
        f"{os.pathsep}/opt/x/py4j-0.10.9.9-src.zip",
    )
    session._install_worker_shim()
    assert os.environ["PYSPARK_PYTHON"].endswith("pyworker_shim.sh")
    assert os.environ["SPARK_GRAFT_REAL_PYTHON"] == sys.executable
    assert os.environ["SPARK_GRAFT_SITE_OK"] == "1"
