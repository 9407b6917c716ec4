"""Count the py4j round trips the driver's main thread makes in one warm run.

    python3 tools/py4j_calls.py

The input is kgbench's ``person_graph`` workload at seed 3, in a kgbench
session (``kgbench_session``). The tool runs kgbench's ``run_pipeline`` +
``write_outputs`` call once to warm up, and then once more with py4j's
``ClientServerConnection.send_command`` wrapped. Counted are
the calls made on the main thread that return within ``FAST_S``: plan
building and metadata calls, during which no Spark job runs (a call that
blocks on a job takes longer). Each call is charged to the innermost
``auth2wd_spark`` frame on the stack.

Prints one line per function, most calls first, then the total: the
counted calls and the milliseconds they took, then the slower calls and
theirs (Spark jobs, and the analysis of large plans).
"""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import Counter

from kgbench_session import ROOT, kgbench_session

PACKAGE_DIR = os.path.join(ROOT, "auth2wd_spark") + os.sep

WORKLOAD, SEED = "person_graph", 3
FAST_S = 0.020  # a faster call builds a plan or reads metadata


def caller(frame) -> str:
    """``module:function`` of the innermost package frame, or ``-``."""
    while frame is not None:
        path = frame.f_code.co_filename
        if path.startswith(PACKAGE_DIR):
            module = path[len(PACKAGE_DIR) : -len(".py")].replace(os.sep, ".")
            return f"{module}:{frame.f_code.co_qualname}"
        frame = frame.f_back
    return "-"


class CallCounter:
    """Counts fast main-thread ``send_command`` calls per caller while on."""

    def __init__(self):
        from py4j.clientserver import ClientServerConnection

        self.cls = ClientServerConnection
        self.original = ClientServerConnection.send_command
        self.calls: Counter[str] = Counter()
        self.seconds: Counter[str] = Counter()
        self.slow: Counter[str] = Counter()
        self.slow_seconds: Counter[str] = Counter()
        main = threading.main_thread()
        counter = self

        def send_command(conn, command):
            if threading.current_thread() is not main:
                return counter.original(conn, command)
            t0 = time.perf_counter()
            try:
                return counter.original(conn, command)
            finally:
                took = time.perf_counter() - t0
                name = caller(sys._getframe(1))
                if took < FAST_S:
                    counter.calls[name] += 1
                    counter.seconds[name] += took
                else:
                    counter.slow[name] += 1
                    counter.slow_seconds[name] += took

        self.wrapped = send_command

    def __enter__(self):
        self.cls.send_command = self.wrapped
        return self

    def __exit__(self, *exc):
        self.cls.send_command = self.original


def main() -> None:
    from auth2wd_spark.session import release_all_cached

    with kgbench_session(WORKLOAD, SEED) as (spark, run):
        run()  # warm-up
        release_all_cached(spark)
        with CallCounter() as counter:
            run()

    def row(calls, ms, slow, slow_ms, name):
        print(f"{calls:6d}  {ms:8.1f}  {slow:6d}  {slow_ms:8.1f}  {name}")

    print(f"{'calls':>6}  {'ms':>8}  {'slower':>6}  {'ms':>8}  function")
    names = sorted(counter.calls.keys() | counter.slow.keys(), key=lambda n: -counter.calls[n])
    for name in names:
        row(counter.calls[name], counter.seconds[name] * 1000, counter.slow[name],
            counter.slow_seconds[name] * 1000, name)
    row(sum(counter.calls.values()), sum(counter.seconds.values()) * 1000,
        sum(counter.slow.values()), sum(counter.slow_seconds.values()) * 1000, "total")


if __name__ == "__main__":
    main()
