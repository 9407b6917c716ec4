"""Session defaults fit the host they run on; the shipped package zip
follows the package's files."""

import os
import time
import zipfile

from auth2wd_spark.session import _fresh_zip, host_defaults


def test_host_defaults_fit_host():
    cores, memory = host_defaults()
    assert 1 <= cores <= os.cpu_count()
    assert cores <= len(os.sched_getaffinity(0))
    assert memory.endswith("m")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(memory[:-1]) <= ram_mb


def test_zip_drops_deleted_module(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "kept.py").write_text("X = 1\n")
    zip_path = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr("pkg/kept.py", "X = 1\n")
        zf.writestr("pkg/gone.py", "Y = 2\n")  # its source file was deleted
    later = time.time() + 60
    os.utime(zip_path, (later, later))  # newer than every source file
    assert _fresh_zip(str(pkg), zip_path) == zip_path
    with zipfile.ZipFile(zip_path) as zf:
        assert zf.namelist() == ["pkg/kept.py"]
