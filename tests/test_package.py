"""Package hygiene: every module compiles cleanly, the engine runs from
any working directory, and the default driver heap fits the host."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import types
import warnings

import pytest

from conftest import SF_DIR

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "vector_database_with_gpu_acceleration_for_llm_retrieval_spark"

pytestmark = pytest.mark.driver_gate


def test_modules_compile_with_warnings_as_errors():
    # an invalid escape such as "\s" in a string literal only warns
    # today and is a SyntaxError under -W error
    failed = []
    for path in sorted(PKG.rglob("*.py")):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(), str(path), "exec")
            except SyntaxError as e:
                failed.append(f"{path.relative_to(REPO)}:{e.lineno}: {e.msg}")
    assert not failed, failed


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """rag_context runs Python UDFs; their workers must find the
    package although neither cwd nor PYTHONPATH points at the repo."""
    script = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark import contract
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.session import get_spark
rows = contract.queries()["rag_context"](get_spark("vdb_cwd_check"), {SF_DIR!r}).collect()
assert rows, "rag_context returned no rows"
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]


def test_default_driver_heap_fits_host_memory(monkeypatch):
    """Without SPARK_DRIVER_MEMORY the driver heap cap is at most half
    the host's physical memory and at most 32g."""
    from pyspark.sql import SparkSession

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.session import get_spark

    options = {}

    def capture(self):
        options.update(self._options)
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
        )

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    get_spark("heap_default")
    heap = options["spark.driver.memory"]
    heap_mb = int(heap[:-1]) * {"g": 1024, "m": 1}[heap[-1]]
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    assert heap_mb <= min(32 * 1024, phys_mb // 2), (heap, phys_mb)
