"""Process-level contracts of the package.

- The library reads only deployment settings from the environment; any
  other ``SPARK_GRAFT_*`` knob is an experiment switch that outlived its
  verdict.
- Importing the package changes no process state.
- Python workers can import the package even when the driver found it
  only through ``sys.path`` (no ``PYTHONPATH``, cwd elsewhere).
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "drone_spark"
DEPLOYMENT_SETTINGS = {"CPUS", "DRIVER_MEM", "BROADCAST_MB", "LOCAL_DIR"}


def test_library_reads_only_deployment_settings():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for m in re.finditer(r"SPARK_GRAFT_([A-Z_]+)", path.read_text()):
            found.setdefault(m.group(1), []).append(str(path.relative_to(REPO)))
    extra = {k: v for k, v in found.items() if k not in DEPLOYMENT_SETTINGS}
    assert not extra, f"non-deployment SPARK_GRAFT_* names in the library: {extra}"


def test_import_leaves_environment_unchanged():
    script = textwrap.dedent(
        f"""
        import importlib, os, pkgutil, sys
        sys.path.insert(0, {str(REPO)!r})
        before = dict(os.environ)
        import drone_spark
        for mod in pkgutil.walk_packages(drone_spark.__path__, "drone_spark."):
            importlib.import_module(mod.name)
        after = dict(os.environ)
        changed = sorted(k for k in before.keys() | after.keys()
                         if before.get(k) != after.get(k))
        print(changed)
        sys.exit(1 if changed else 0)
        """
    )
    # start from an environment without any SPARK_GRAFT_* name, so a
    # setdefault on import would show
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_python_workers_import_package_without_pythonpath(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from drone_spark.corpus import generate_pages
        from drone_spark.session import get_spark

        spark = get_spark("hygiene-pythonpath", cores=1)
        try:
            print("pages", generate_pages(spark, 20).count())
        finally:
            spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "pages 20" in proc.stdout
