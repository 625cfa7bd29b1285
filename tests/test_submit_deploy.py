"""spark-submit --py-files deployment (the north rule's launch mode).

The full smoke (zip the package, run the checkpointed pipeline + a query
on local-cluster[2,2,2048] with the zip as the only package source) costs
~90 s of JVM/cluster startup, so it lives in tools/submit_smoke.py and
runs out-of-band (latest result: SUBMIT_SMOKE.json). This suite keeps the
cheap, fast-failing slice: the code-fingerprint source reader must work
for zipimported modules — the exact failure mode that crashed every
--py-files executor before round 4 (open() on a path INSIDE the zip)."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile

import pytest


def test_fingerprint_reads_source_through_zip_loader(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        pkg = os.path.join(repo, "pubmedkb_web_spark")
        for root, _d, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, repo))
    # fresh interpreter: the zip must be the ONLY importable copy
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from pubmedkb_web_spark.pipeline import runner; "
        "print('FP', runner.CODE_FINGERPRINT)" % zip_path
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        env=env, cwd=str(tmp_path), timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    fp_zip = proc.stdout.strip().split()[-1]
    assert len(fp_zip) == 16

    # and it must equal the checkout's fingerprint: a resume on a cluster
    # must accept checkpoints written by the same code from a checkout
    proc2 = subprocess.run(
        [sys.executable, "-c",
         "from pubmedkb_web_spark.pipeline import runner; print('FP', runner.CODE_FINGERPRINT)"],
        capture_output=True, text=True, cwd=repo, timeout=120,
    )
    assert proc2.returncode == 0, proc2.stderr[-2000:]
    assert fp_zip == proc2.stdout.strip().split()[-1]


def test_imports_come_from_this_checkout(spark):
    """The engine and the driver contract must be imported from the
    checkout that holds this test, on the driver and on a Python worker:
    another copy on the path would test (or time) the wrong code."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    mods = ("pubmedkb_web_spark", "__spark_entry__")

    def module_files(_rows):  # nested: shipped by value, not by module
        for m in mods:
            yield importlib.import_module(m).__file__

    driver = [importlib.import_module(m).__file__ for m in mods]
    worker = spark.sparkContext.parallelize([0], 1).mapPartitions(module_files).collect()
    for f in driver + worker:
        assert os.path.abspath(f).startswith(repo + os.sep), f


@pytest.mark.skipif(
    not os.environ.get("RUN_SUBMIT_SMOKE"),
    reason="full spark-submit local-cluster smoke is out-of-band (tools/submit_smoke.py)",
)
def test_submit_smoke_full():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "submit_smoke.py")],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:]
