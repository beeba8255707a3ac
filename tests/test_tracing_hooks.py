"""The layer hooks of perfbench's tracer install on the current program.

``perfbench/tracing.py`` wraps engine, parser and server functions by
name (``dml._rewrite``, ``parser.parse_insert``, ``server._Conn``'s
packet methods and more) in every ``--trace 1`` run. A renamed or
deleted function makes every traced run fail before its first
statement, so the install is checked here. It runs in a subprocess:
the hooks patch classes and modules, and must not reach other tests.
No Spark session is needed."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tracer_installs_its_engine_and_server_hooks(tmp_path):
    code = textwrap.dedent(
        f"""
        from perfbench import tracing

        t = tracing.Tracer()
        t.install_engine({str(tmp_path)!r}, "pb")
        t.install_server()
        """
    )
    env = {**os.environ, "PYTHONPATH": REPO + os.pathsep + os.environ.get("PYTHONPATH", "")}
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
