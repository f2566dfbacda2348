"""Sessions built outside the engine, as an external driver builds
them: a fresh process whose cwd is not the repo and whose PYTHONPATH
does not name it, so the Python workers can import ``connect_spark``
only if ``session.ensure_session`` shipped it.

- A ``file``-input pipeline (no catalog table anywhere) whose mapping
  falls back to the dynamic evaluator must run its pandas UDF on the
  workers.
- Four threads calling ``load_table`` at once on a fresh session must
  ship the package exactly once; a second ``addPyFile`` of the rewritten
  zip fails tasks with "File ... exists and does not match contents".
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r'''
import json
import sys
import threading

repo, sf_dir = sys.argv[1:]
sys.path.insert(0, repo)

from pyspark.sql import SparkSession

from connect_spark.catalog import load_table
from connect_spark.plans.pipeline import build_pipeline


def fresh_session():
    return (SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false").getOrCreate())


spark = fresh_session()
with open("docs.ndjson", "w") as fh:
    for i in range(3):
        fh.write(json.dumps({"id": i, "x": "drop", "y": i * 10}) + "\n")
df = build_pipeline(spark, {
    "input": {"file": {"path": "docs.ndjson"}},
    "pipeline": {"processors": [{"mapping": 'root = this.without("x")'}]},
}).dataframe()
got = sorted((json.loads(r.content) for r in df.collect()),
             key=lambda d: d["id"])
assert got == [{"id": i, "y": i * 10} for i in range(3)], got
spark.stop()

spark = fresh_session()
sc = spark.sparkContext
shipped = []
add_py_file = sc.addPyFile


def counting_add_py_file(path):
    shipped.append(path)
    add_py_file(path)


sc.addPyFile = counting_add_py_file
barrier = threading.Barrier(4)
errors = []


def first_load():
    barrier.wait()
    try:
        load_table(spark, sf_dir, "nation").count()
    except BaseException as exc:
        errors.append(exc)


threads = [threading.Thread(target=first_load) for _ in range(4)]
for t in threads:
    t.start()
for t in threads:
    t.join()
assert not errors, errors
assert len(shipped) == 1, shipped
spark.stop()
print("BOOTSTRAP_OK")
'''


def test_foreign_session_ships_package_once_for_every_entry_point(
    tmp_path, sf_dir
):
    script = tmp_path / "foreign_driver.py"
    script.write_text(SCRIPT)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.realpath(p) != os.path.realpath(REPO)
    )
    proc = subprocess.run(
        [sys.executable, str(script), REPO, sf_dir], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    out = proc.stdout + proc.stderr
    assert proc.returncode == 0, out[-4000:]
    assert "mapping fell back to the dynamic evaluator" in proc.stdout
    assert "BOOTSTRAP_OK" in proc.stdout


ZIP_SCRIPT = r'''
import os
import sys

sys.path.insert(0, sys.argv[1])

from connect_spark.session import get_spark

spark = get_spark("zip_cleanup")
assert spark.range(4).mapInPandas(lambda it: it, "id long").count() == 4
print("PID", os.getpid())
'''


def test_package_zip_removed_at_exit(tmp_path):
    """The per-process package zip that `ensure_session` ships is gone
    once the process exits."""
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    script = tmp_path / "zip_driver.py"
    script.write_text(ZIP_SCRIPT)
    env = dict(os.environ, TMPDIR=str(tmpdir), SPARK_GRAFT_CPUS="1")
    proc = subprocess.run(
        [sys.executable, str(script), REPO], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
    pid = proc.stdout.split("PID", 1)[1].split()[0]
    assert not (tmpdir / f"connect_spark_pkg_{pid}.zip").exists()
