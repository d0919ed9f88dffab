"""Bit-rot guard for scripts/ (VERDICT r4 ask #8): every profiling /
parity utility must keep importing cleanly and keep a working CLI.

Two layers, both cheap:
* import: each module loads without executing its job (``main()`` is
  guarded), so a renamed engine symbol breaks HERE, not mid-profile.
* CLI: ``--help`` exits 0 for every argparse script — proves the parser
  builds and the module-level code (sys.path bootstrap, imports) runs in
  a fresh interpreter, the way the driver/user actually invokes them.

profile_weak.py is positional-argv (no argparse), so it only gets the
import-layer check; bench.py at the repo root is covered by
tests/test_bench_accounting.py.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
ALL_PY = sorted(f for f in os.listdir(SCRIPTS) if f.endswith(".py"))
ARGPARSE = [f for f in ALL_PY if f != "profile_weak.py"]


@pytest.mark.parametrize("name", ALL_PY)
def test_script_imports(name):
    path = os.path.join(SCRIPTS, name)
    spec = importlib.util.spec_from_file_location(f"script_{name[:-3]}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None)), f"{name} has no main()"


@pytest.mark.parametrize("name", ARGPARSE)
def test_script_cli_help(name):
    proc = subprocess.run(
        [sys.executable, os.path.join(SCRIPTS, name), "--help"],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=REPO,
    )
    assert proc.returncode == 0, f"{name} --help rc={proc.returncode}: {proc.stderr[-500:]}"
    assert "usage" in proc.stdout.lower(), f"{name} --help printed no usage"
