"""FUNCTIONS.md is what tools/gen_functions_md.py prints for the registry
as it stands. Needs no Spark session."""

from __future__ import annotations

import contextlib
import io
import os
import runpy

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_functions_md_matches_the_generator():
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        runpy.run_path(os.path.join(ROOT, "tools", "gen_functions_md.py"), run_name="__main__")
    with open(os.path.join(ROOT, "FUNCTIONS.md"), encoding="utf-8") as f:
        committed = f.read()
    assert out.getvalue() == committed, (
        "FUNCTIONS.md is stale: python tools/gen_functions_md.py > FUNCTIONS.md"
    )
