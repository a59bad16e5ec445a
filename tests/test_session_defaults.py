"""``get_spark``'s driver-heap default derives from host memory, so a
default session fits the machine it starts on, and every script takes
its heap from the same rule.  The shuffled-hash-join bound derives from
that heap and the core count.  Only the wiring check needs a
SparkSession."""

from __future__ import annotations

import os
import re

from ecommerce_data_engineering_spark.session import (
    _mib, default_driver_memory, driver_memory, g1_region_flag, local_cores,
    shj_threshold)

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts")


def _meminfo(tmp_path, text: str) -> str:
    p = tmp_path / "meminfo"
    p.write_text(text)
    return str(p)


def test_half_of_memtotal_in_whole_gib(tmp_path):
    # a 15 GiB host (MemTotal in kB) gets a 7g heap, not 48g
    info = _meminfo(tmp_path, "MemTotal:       15728640 kB\n"
                              "MemFree:         1000000 kB\n")
    assert default_driver_memory(info) == "7g"
    info = _meminfo(tmp_path, "MemFree: 1 kB\nMemTotal: 268435456 kB\n")
    assert default_driver_memory(info) == "128g"


def test_floor_is_one_gib(tmp_path):
    info = _meminfo(tmp_path, "MemTotal: 1048576 kB\n")
    assert default_driver_memory(info) == "1g"
    # unreadable or MemTotal-less meminfo falls back to the floor
    assert default_driver_memory(str(tmp_path / "missing")) == "1g"
    assert default_driver_memory(_meminfo(tmp_path, "MemFree: 5 kB\n")) == "1g"


def test_host_default_fits_host():
    with open("/proc/meminfo") as f:
        total_kib = next(int(l.split()[1]) for l in f
                         if l.startswith("MemTotal:"))
    heap_gib = int(default_driver_memory()[:-1])
    # at most half the host, unless the 1g floor applies
    assert heap_gib == 1 or heap_gib * 2 * 1024 * 1024 <= total_kib


def test_env_overrides_host_default(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEMORY")
    assert driver_memory() == default_driver_memory()


def test_no_script_hardcodes_a_heap_default():
    """A script's own ``"24g"`` default (Python ``environ.get`` or shell
    ``${...:-24g}``) would outgrow a smaller host; scripts call
    ``session.driver_memory()`` instead."""
    literal = re.compile(r'SPARK_DRIVER_MEMORY(?:"\s*,\s*"|:-)\d+[gGmM]')
    offenders = []
    for root, _, files in os.walk(SCRIPTS):
        for name in files:
            path = os.path.join(root, name)
            with open(path, errors="replace") as f:
                if literal.search(f.read()):
                    offenders.append(os.path.relpath(path, SCRIPTS))
    assert not offenders, offenders


def test_local_cores_env_overrides_host_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert local_cores() == os.cpu_count()


def test_no_script_reads_the_core_count_itself():
    """A script that reads ``SPARK_GRAFT_CPUS`` itself can carry its own
    default (``"32"``) that oversubscribes a smaller host; scripts call
    ``session.local_cores()`` instead."""
    offenders = []
    for root, _, files in os.walk(SCRIPTS):
        for name in files:
            path = os.path.join(root, name)
            with open(path, errors="replace") as f:
                if "SPARK_GRAFT_CPUS" in f.read():
                    offenders.append(os.path.relpath(path, SCRIPTS))
    assert not offenders, offenders


def test_shj_threshold_is_guaranteed_per_task_execution_memory():
    # (3072 - 300 reserved) MiB x 0.6 unified x (1 - 0.5 storage)
    # / (2 x 4 tasks) = 103.95 MiB: perfbench's 3g heap on 4 cores
    assert shj_threshold("3g", 4) == "103m"
    assert shj_threshold("3072m", 4) == "103m"
    assert shj_threshold("7g", 4) == "257m"
    assert shj_threshold("1g", 8) == "13m"
    # nothing is guaranteed below the reserved 300 MiB: keep sort-merge
    assert shj_threshold("256m", 4) == "0m"


def test_shj_threshold_never_exceeds_heap_per_core():
    for heap in ("512m", "1g", "3g", "7g", "64g", "1t"):
        for cores in (1, 2, 4, 8, 64):
            bound = _mib(shj_threshold(heap, cores))
            assert 0 <= bound <= _mib(heap) / cores, (heap, cores)


def test_get_spark_sets_the_derived_shj_threshold(spark):
    conf = spark.conf
    assert conf.get(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") == \
        shj_threshold(conf.get("spark.driver.memory"),
                      spark.sparkContext.defaultParallelism)


def test_g1_region_flag_only_below_8g():
    # G1 picks heap / 2048: 1 MiB regions at 3g, 4 MiB from 8g up
    for heap in ("1g", "3g", "3072m", "7g", "8191m"):
        assert g1_region_flag(heap) == "-XX:G1HeapRegionSize=4m", heap
    for heap in ("8g", "8192m", "48g", "1t"):
        assert g1_region_flag(heap) == "", heap


def test_get_spark_starts_the_driver_with_the_g1_region_flag(spark):
    jvm = spark._jvm
    args = list(jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    flag = g1_region_flag(spark.conf.get("spark.driver.memory"))
    if flag:
        assert flag in args
    else:
        assert not any("G1HeapRegionSize" in a for a in args)
    assert spark.sparkContext.getConf().get(
        "spark.broadcast.blockSize") == "1m"
