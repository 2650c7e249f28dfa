"""The command-line tools in ``tools/``, which README and the verify
recipe point users at.

Each script must print its usage and exit 0 without starting Spark, from
any working directory.  ``SPARK_HOME`` points at a directory that does not
exist, so a script that launched a JVM for ``--help`` would fail."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(
    f[:-3] for f in os.listdir(os.path.join(REPO, "tools")) if f.endswith(".py")
)


@pytest.mark.parametrize("name", TOOLS)
def test_tool_help_runs_without_spark(name, tmp_path):
    env = dict(os.environ, SPARK_HOME=str(tmp_path / "no-spark"))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", f"{name}.py"), "--help"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.startswith("usage:"), out.stdout

