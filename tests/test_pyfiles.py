"""--py-files packaging: the zip is deterministic and self-contained."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_zip_deterministic_and_complete(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from make_pyfiles import build
    finally:
        sys.path.pop(0)
    z1, z2 = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    build(z1)
    build(z2)
    assert open(z1, "rb").read() == open(z2, "rb").read()
    names = set(zipfile.ZipFile(z1).namelist())
    # every gigaspark module in the tree is in the artifact
    for root, _dirs, files in os.walk(os.path.join(REPO, "gigaspark")):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, f), REPO)
                assert rel in names
    # self-contained: a fresh interpreter with ONLY the zip on sys.path
    # (repo root absent) can import the whole operator surface
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import gigaspark.operators.frontier, gigaspark.operators.dedup, "
        "gigaspark.operators.similarity, gigaspark.functions.urls, "
        "gigaspark.streaming.trap_stream; print('ok')" % z1)
    out = subprocess.run([sys.executable, "-c", code], cwd=str(tmp_path),
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr
