"""Every ``duva_spark`` module imports in a process with no Spark session:
module-level code must not need an active SparkContext (a string
``pandas_udf`` return type, for one, is parsed through it)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import duva_spark

_IMPORT_ALL = """
import importlib, json, pkgutil, sys
import duva_spark

failed = {}
for m in pkgutil.walk_packages(duva_spark.__path__, "duva_spark."):
    try:
        importlib.import_module(m.name)
    except Exception as exc:
        failed[m.name] = f"{type(exc).__name__}: {exc}"[:300]
print(json.dumps(failed))
"""


def test_every_module_imports_without_a_spark_session():
    root = Path(duva_spark.__file__).parent.parent
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    failed = json.loads(out.stdout.strip().splitlines()[-1])
    assert failed == {}, failed
