"""Session defaults fit the host they run on."""

import os

from auth2wd_spark.session import host_defaults


def test_host_defaults_fit_host():
    cores, memory = host_defaults()
    assert 1 <= cores <= os.cpu_count()
    assert cores <= len(os.sched_getaffinity(0))
    assert memory.endswith("m")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(memory[:-1]) <= ram_mb
