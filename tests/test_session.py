"""Session factory: host-sized defaults and worker import path."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from bigdataamazon_spark.session import default_driver_memory, physical_memory_bytes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_driver_memory_fits_the_machine_and_the_cap():
    heap = int(default_driver_memory().removesuffix("m")) << 20
    assert 0 < heap < physical_memory_bytes()
    assert heap <= 16 << 30


def test_python_workers_import_engine_from_any_directory(sf_dir, tmp_path):
    """A caller outside the repository with the engine only on its own
    ``sys.path``: the pandas_udf in ``stemmed_word_freq`` runs engine
    code in the Python workers, which must import the package too."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from bigdataamazon_spark import queries
        from bigdataamazon_spark.session import get_spark
        spark = get_spark("import-path-check")
        rows = queries.queries()["stemmed_word_freq"](spark, {sf_dir!r}).collect()
        print("rows", len(rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert "ModuleNotFoundError" not in out.stderr, out.stderr[-3000:]
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split("rows")[-1]) > 0
