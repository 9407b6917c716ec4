"""Count the generated classes Spark compiles in each warm run.

    python3 tools/codegen_compiles.py [--sources]

For each kgbench workload at seed 3, in a new JVM (``kgbench_session``),
the tool calls kgbench's ``run_pipeline`` + ``write_outputs`` once to warm
up and then ``RUNS`` more times. Around each call it reads the count of
Janino compilations from ``CodegenMetrics.METRIC_COMPILATION_TIME``. A
class whose source is already in Spark's compiled-class cache is not
compiled again, so the warm-up's count is the run's distinct sources, and
a warm run that reuses every class compiles 0.

With ``--sources``, the warm runs log
``org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator`` at
DEBUG: Spark logs the formatted source of each class it compiles (a cache
miss) to the JVM's stderr; a class found in the cache is not logged.

Prints one line per run: the workload, the run and the classes it compiled.
"""

from __future__ import annotations

import argparse

from kgbench_session import kgbench_session

SEED, RUNS = 3, 3
CODEGEN_LOGGER = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"


def main() -> None:
    from kgbench.inputs import WORKLOADS

    from auth2wd_spark.session import release_all_cached

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sources", action="store_true", help="log each compiled source")
    sources = ap.parse_args().sources
    print(f"{'workload':<14}  {'run':>7}  {'classes':>7}")
    for workload in WORKLOADS:
        with kgbench_session(workload, SEED) as (spark, run):
            jvm = spark.sparkContext._jvm
            metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
            compilations = metrics.METRIC_COMPILATION_TIME()
            for n in range(RUNS + 1):
                if sources and n == 1:
                    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                        CODEGEN_LOGGER, jvm.org.apache.logging.log4j.Level.DEBUG
                    )
                before = compilations.getCount()
                run()
                compiled = compilations.getCount() - before
                release_all_cached(spark)
                kind = f"warm {n}" if n else "warm-up"
                print(f"{workload:<14}  {kind:>7}  {compiled:7d}", flush=True)


if __name__ == "__main__":
    main()
