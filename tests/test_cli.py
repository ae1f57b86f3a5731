"""``python -m npm_mirror_spark``: ``run`` end to end in its own process,
``list`` in-process."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

from npm_mirror_spark.__main__ import main
from npm_mirror_spark.queries import QUERIES

REPO = Path(__file__).resolve().parent.parent


def test_cli_runs_a_face(sf_dir):
    run = subprocess.run(
        [sys.executable, "-m", "npm_mirror_spark", "run", "q_mirror_record"]
        + ["--sf-dir", sf_dir, "-n", "1"],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stdout[-2000:] + run.stderr[-2000:]
    assert re.search(r"^[1-9]\d* rows$", run.stdout, re.M), run.stdout[-2000:]


def test_cli_lists_every_query(capsys):
    assert main(["list"]) == 0
    assert len(capsys.readouterr().out.splitlines()) == len(QUERIES)
