"""spark-submit --py-files deployment contract: the zip built by
tools/make_pyfiles.py must be a self-contained install of the engine."""

import os
import subprocess
import sys


def _build(tmp_path):
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from make_pyfiles import build

    return build(str(tmp_path / "pyradiomics_spark.zip"))


def test_zip_is_importable_standalone(tmp_path):
    """A bare interpreter with ONLY the zip prepended to sys.path (cwd /,
    repo not on the path) imports the package, builds settings, and runs a
    numpy kernel — what an executor does after spark-submit ships the
    artifact."""
    zip_path = _build(tmp_path)
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "import numpy as np\n"
        "from pyradiomics_spark.config import ExtractionSettings\n"
        "from pyradiomics_spark.kernels import discretize, firstorder_features\n"
        "s = ExtractionSettings(bin_width=1.0)\n"
        "lv = discretize(np.array([1.0, 2.0, 2.0, 5.0]), 1.0, None)\n"
        "f = firstorder_features(np.array([1.0, 2.0, 2.0, 5.0]), 1.0, None)\n"
        "assert lv.tolist() == [1, 2, 2, 5] and f['Mean'] == 2.5\n"
        "import pyradiomics_spark.operators.asof\n"
        "print('ok')\n" % zip_path
    )
    r = subprocess.run([sys.executable, "-c", code], cwd="/",
                       capture_output=True, text=True,
                       env={**os.environ, "PYTHONPATH": ""})
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip().endswith("ok")


def test_zip_ships_every_module(tmp_path):
    """The artifact carries the full package tree (a missing submodule
    fails only at runtime on an executor — catch it at build time)."""
    import zipfile

    zip_path = _build(tmp_path)
    names = set(zipfile.ZipFile(zip_path).namelist())
    root = os.path.join(os.path.dirname(__file__), "..", "pyradiomics_spark")
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for f in filenames:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f),
                                      os.path.join(root, ".."))
                assert rel.replace(os.sep, "/") in names, rel


def test_session_accepts_pyfile(spark, tmp_path):
    """Live-session smoke for the distribution hook (sc.addPyFile is what
    --py-files does per executor)."""
    zip_path = _build(tmp_path)
    spark.sparkContext.addPyFile(zip_path)


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    """The literal north-star deployment shape: `spark-submit --py-files
    pyradiomics_spark.zip job.py` in a fresh JVM, with the job importing
    the engine ONLY from the shipped artifact (cwd outside the repo) and
    running a real extraction + as-of join."""
    import shutil

    zip_path = _build(tmp_path)
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")
    job = tmp_path / "job.py"
    job.write_text(
        "from pyspark.sql import SparkSession, functions as F\n"
        "from pyradiomics_spark.config import ExtractionSettings\n"
        "from pyradiomics_spark.operators.features import extract_features\n"
        "from pyradiomics_spark.operators.asof import asof_join\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.sql.shuffle.partitions', '4')\n"
        "         .appName('pyfiles-e2e').getOrCreate())\n"
        "docs = spark.createDataFrame(\n"
        "    [(f'u{i}', i, f'alpha beta{i} gamma delta epsilon{i}')\n"
        "     for i in range(20)], 'url string, ts long, text string')\n"
        "feats = extract_features(docs, keys=('url', 'ts'),\n"
        "                         settings=ExtractionSettings(bin_width=1.0))\n"
        "right = spark.createDataFrame(\n"
        "    [(f'u{i}', i - 1, float(i)) for i in range(20)],\n"
        "    'url string, rts long, val double')\n"
        "j = asof_join(feats, right, on='url', left_ts='ts', right_ts='rts')\n"
        "n = j.where(F.col('val').isNotNull()).count()\n"
        "assert n == 20, n\n"
        "print('PYFILES_E2E_OK', n)\n"
        "spark.stop()\n")
    env = {**os.environ, "PYTHONPATH": ""}
    r = subprocess.run(
        [spark_submit, "--master", "local[2]", "--py-files", zip_path,
         str(job)], cwd=str(tmp_path), capture_output=True, text=True,
        env=env, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "PYFILES_E2E_OK 20" in r.stdout, r.stdout[-2000:]


def test_gate_row_ships_package_to_workers(tmp_path):
    """A gate row with a Python UDF runs when the workers cannot import
    the package from their own path (empty PYTHONPATH, cwd outside the
    repo): loading the entry by path puts the repo on the driver's
    sys.path only, so the row itself must ship the package."""
    import pandas as pd

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    pd.DataFrame({
        "doc_id": list(range(40)),
        "text": [" ".join(f"w{'x' * ((i * k) % 7)}" for k in range(12))
                 for i in range(40)],
    }).to_parquet(sf_dir / "documents.parquet")
    entry = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                         "__spark_entry__.py")
    code = (
        "import importlib.util\n"
        "spec = importlib.util.spec_from_file_location('gate_entry', %r)\n"
        "e = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(e)\n"
        "from pyradiomics_spark.session import get_spark, scope\n"
        "spark = get_spark(app_name='ship-check', cores=2,"
        " shuffle_partitions=4)\n"
        "with scope():\n"
        "    n = e.queries()['matrix_glcm'](spark, %r).count()\n"
        "print('GATE_ROWS', n)\n"
        "spark.stop()\n" % (os.path.abspath(entry), str(sf_dir)))
    r = subprocess.run([sys.executable, "-c", code], cwd=str(tmp_path),
                       capture_output=True, text=True, timeout=600,
                       env={**os.environ, "PYTHONPATH": ""})
    assert r.returncode == 0, r.stderr[-3000:]
    rows = int(r.stdout.split("GATE_ROWS")[1].split()[0])
    assert rows > 0
