"""Session defaults are sized from the host, not hard-coded."""

import os

from scones.session import default_driver_mem, default_master, host_mem_bytes


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def _mb(mem: str) -> int:
    assert mem.endswith("m")
    return int(mem[:-1])


def test_default_heap_fits_two_jvms_in_host_memory():
    """The suite's JVM and a subprocess test's JVM are alive at once, and
    each pre-touches its whole heap: the default must be <= MemTotal / 2."""
    assert _mb(default_driver_mem()) * (1 << 20) <= host_mem_bytes() / 2


def test_default_heap_scales_with_memtotal(tmp_path):
    gib = 1 << 20  # in kB
    assert default_driver_mem(_meminfo(tmp_path, 16 * gib)) == "4096m"
    assert default_driver_mem(_meminfo(tmp_path, 15 * gib)) == "3840m"
    assert default_driver_mem(_meminfo(tmp_path, 256 * gib)) == "12288m"  # cap
    assert default_driver_mem(_meminfo(tmp_path, gib)) == "512m"  # floor


def test_default_master_from_cpu_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_master() == f"local[{os.cpu_count()}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_master() == "local[3]"


def test_session_heap_is_explicit_env_or_host_default(spark):
    want = os.environ.get("SCONES_DRIVER_MEM") or default_driver_mem()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
