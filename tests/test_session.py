"""Session defaults that must fit any host: JVM flags, driver memory, and
worker imports from an arbitrary working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from dataflow_geobeam_spark import session


@pytest.mark.parametrize(
    "machine,want",
    [("x86_64", "-XX:UseAVX=2"), ("AMD64", "-XX:UseAVX=2"), ("aarch64", ""), ("arm64", "")],
)
def test_avx_flag_only_on_x86(monkeypatch, machine, want):
    monkeypatch.setattr(session.platform, "machine", lambda: machine)
    assert session.default_java_options() == want


def test_default_driver_memory_fits_host():
    mem = session.default_driver_memory()
    assert mem.endswith("g")
    gib = int(mem[:-1])
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= gib <= 16 and gib * 2**30 <= max(ram // 2, 2**30)


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A driver started outside the repo (package importable only through
    its own sys.path) still runs Python tasks: the worker daemon module
    lives in the package, so workers need its path too."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {session.PACKAGE_PARENT!r})
        from dataflow_geobeam_spark.session import get_spark

        spark = get_spark("cwd-check", master="local[1]", shuffle_partitions=1)
        df = spark.range(5).mapInArrow(lambda batches: batches, "id long")
        print("ROWS", sorted(r.id for r in df.collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ROWS [0, 1, 2, 3, 4]" in proc.stdout
