"""SparkSession helpers.

``ship_package`` makes auth2wd_spark importable on executors regardless of
the driver's working directory — the local-mode stand-in for
``spark-submit --py-files auth2wd_spark.zip`` (north_rule). Idempotent per
SparkContext.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()

# Compiled whole-stage-codegen classes the session keeps, looked up by
# their source text. One warm-up run on kgbench's inputs (seed 3) compiles
# 150 distinct sources on person_graph and 161 on crawl_recrawl (158 and 171
# with stage ids in class names). Spark's default of 100, evicted in LRU
# order, dropped every class before the next run asked for it again, so a
# warm run compiled 155-167 classes, each on the driver before its stage
# could start (ARCHITECTURE.md, Generated code). 1,000 holds six such runs:
# room for the plans of other inputs and other queries in one session.
CODEGEN_CACHE_ENTRIES = 1000


def package_zip_path() -> str:
    """Build (once) a zip of the auth2wd_spark package for --py-files/addPyFile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    return _fresh_zip(pkg_dir, os.path.join(os.path.dirname(pkg_dir), "auth2wd_spark.pyfiles.zip"))


def _fresh_zip(pkg_dir: str, zip_path: str) -> str:
    """`zip_path` holding every .py file under `pkg_dir`, rebuilt when one is
    newer than the zip or when the zip's members differ from the files: a
    deleted module must not stay importable on executors."""
    name = os.path.basename(pkg_dir)
    sources = {
        os.path.join(name, os.path.relpath(os.path.join(root, f), pkg_dir)): os.path.join(root, f)
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    }
    newest = max(map(os.path.getmtime, sources.values()))
    if os.path.exists(zip_path) and os.path.getmtime(zip_path) >= newest:
        with zipfile.ZipFile(zip_path) as zf:
            if set(zf.namelist()) == set(sources):
                return zip_path
    tmp = zip_path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel, full in sorted(sources.items()):
            zf.write(full, rel)
    os.replace(tmp, zip_path)
    return zip_path


def ship_package(spark: SparkSession) -> None:
    """Ensure executors can import auth2wd_spark (UDF closures need it)."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    try:
        sc.addPyFile(package_zip_path())
    except Exception:
        # zip not writable (read-only checkout) or already added — workers
        # may still resolve the package via cwd/PYTHONPATH
        pass
    _SHIPPED.add(key)


def release_all_cached(spark: SparkSession) -> None:
    """Free every cached DataFrame AND checkpointed/persisted RDD block.

    localCheckpoint() blocks are persisted RDDs that spark.catalog's
    clearCache does not reach; repeated pipeline runs in one session must
    release them or storage memory fills and GC drags every later stage.
    """
    spark.catalog.clearCache()
    try:
        jrdds = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd in jrdds.values():
            rdd.unpersist(False)
    except Exception:
        pass


def host_defaults() -> tuple[int, str]:
    """(cores, driver memory) sized to this host: the cores this process
    may run on, and half of physical RAM for the driver JVM — a local-mode
    driver is the whole cluster, and the Python workers and the OS need
    the rest."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return cores, f"{ram_mb // 2}m"


def build_session(app_name: str = "auth2wd-spark", cpus: int | str | None = None) -> SparkSession:
    default_cpus, default_memory = host_defaults()
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or default_cpus
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        # RAM-backed shuffle/spill: local-mode shuffles go through
        # spark.local.dir; on shared hosts disk latency noise dominates
        # small-stage timing otherwise
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.local.dir", local_dir or "/tmp")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # SPARK_GRAFT_UI=1 serves the live UI REST API, which a traced
        # benchmark run reads per job group; off otherwise
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "0") == "1" and "true" or "false")
        .config("spark.ui.retainedStages", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_memory)
        # PySpark wraps every F.* and Column call to record its Python call
        # site for error messages, at about five py4j round trips per call;
        # off, building link()'s and merge_component()'s plans makes under
        # half as many py4j calls. PySpark reads this flag once per
        # process, the first time a wrapped call runs, so it must be set
        # here, when the session is built, and not on a running session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # a static conf: a running session keeps the bound it was built with
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # adaptive execution numbers a query's codegen stages as it plans
        # them, and the numbers of one query varied between runs; without
        # the number in the class name, a stage's source is the same in
        # every run and its class is reused
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
