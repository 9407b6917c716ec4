"""A kgbench session for the measurement tools in this directory.

``kgbench_session(workload, seed)`` writes the workload's input
(``kgbench/inputs.py``) as parquet to a temporary directory, starts a
session in a new JVM as kgbench does (``kgbench.run.start_session``:
``session.build_session`` at kgbench's core count), and yields
``(spark, run)``. Each ``run()`` is one kgbench ``run_pipeline`` +
``write_outputs`` call into a new output directory; the caller frees the
cached blocks between runs (``session.release_all_cached``) where it wants
them freed. On exit the JVM and its workers are stopped and the directory
is removed. The tools count the checkout they sit in, so a copy placed in
another checkout counts that one.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import tempfile
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


@contextmanager
def kgbench_session(workload: str, seed: int):
    from kgbench.inputs import WORKLOADS, build_rows, write_inputs
    from kgbench.run import read_inputs, run_untraced, start_session, stop_session

    work = tempfile.mkdtemp(prefix=f"{workload}-")
    tempdir = tempfile.tempdir  # start_session points it into work
    try:
        paths = write_inputs(build_rows(WORKLOADS[workload], seed), os.path.join(work, "input"))
        spark = start_session(work, trace=False)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            inputs = read_inputs(spark, paths)
            runs = itertools.count()

            def run() -> None:
                run_untraced(inputs, os.path.join(work, f"out-{next(runs)}"))

            yield spark, run
        finally:
            stop_session(spark)
    finally:
        tempfile.tempdir = tempdir
        shutil.rmtree(work, ignore_errors=True)
