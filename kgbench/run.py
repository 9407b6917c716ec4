#!/usr/bin/env python3
"""Seeded benchmark of the KG pipeline: crawled pages in, item tables written.

    python3 kgbench/run.py --workload person_graph --seed 7 --seconds 10 --trace 0

One process, one Spark session at ``local[4]``, one client running one
pipeline at a time (closed loop). Set-up builds the seeded input
(``inputs.py``) and writes it as parquet, starts the session, and makes one
warm-up run on that input: the session's first pipeline run, which pays
JIT, code generation and the Python worker start. Timed runs follow in the same
session, each one call of ``plans/pipeline.run_pipeline`` followed by
``write_outputs``, exactly as a user of a long-lived session would make
them, until ``--seconds`` of runs are timed; ``e2e_s`` is their median.
After every timed or traced run, outside the timed window, each written
table is read back and its content hash compared with the reference in
``expected.json`` (``check.py``); a mismatch, an exception or a timeout
counts the run as failed. The warm-up's output is not checked; an
exception in it ends the process without a result.

``--trace 1`` makes, after the warm-up, an untraced run and then a traced
run in the same session (UI on). The traced run calls each layer's
public functions inside a span and a Spark job group (``trace.py``); the
per-layer metrics print instead of the end-to-end ones.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Every run's record is appended
to ``kgbench/.work/runs.jsonl``, so bimodal run times stay visible.

``--record 0-15`` recomputes the reference hashes of those input variants
of ``--workload`` and rewrites ``expected.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CORES = 4
RUN_TIMEOUT_S = 75.0  # a run's jobs are cancelled after this
PROCESS_BUDGET_S = 150.0  # no timed run starts that would likely end later

LAYERS = (
    "extract.route",
    "extract.snapshot",
    "extract.parse",
    "linking.link",
    "cc.components",
    "cc.assign",
    "merge.claims",
    "merge.terms",
    "merge.rest",
    "sink.write",
)
MERGE_LAYERS = (
    ("merge.claims", ("claims",)),
    ("merge.terms", ("labels", "aliases", "descriptions")),
    ("merge.rest", ("prop_text", "members")),
)


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- host


def driver_memory_mb() -> int:
    """An eighth of host RAM, between 1 and 2 GiB: the inputs are small,
    and the host is shared."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1024, min(total_kb // 8 // 1024, 2048))


PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def process_tree(root: int) -> dict[int, int]:
    """pid → resident KiB for ``root`` and all its descendants, from one
    pass over ``/proc/<pid>/stat``. Only processes are listed there, not
    threads: a pass takes about 1.5 ms, where following each of the JVM's
    380 threads' ``children`` files took 9 ms, with the GIL held for most
    of it, ten times a second."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                fields = fh.read().rsplit(b")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while we listed /proc
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * PAGE_KB
    out, stack = {}, [root]
    while stack:
        p = stack.pop()
        if p in rss:
            out[p] = rss[p]
            stack.extend(children.get(p, ()))
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree (JVM and Python workers
    included), sampled from /proc while ``active`` is set.

    The peak counts memory held over two consecutive samples. The JVM
    spawns ``chmod`` for every file it writes, and until a spawned child
    execs it shows the JVM's whole resident set; a single-sample peak
    would count the JVM twice in some runs and not in others."""

    def __init__(self, interval_s: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.active = False
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        prev_kb = 0
        while not self._halt.wait(self.interval_s):
            if not self.active:
                prev_kb = 0
                continue
            kb = sum(process_tree(os.getpid()).values())
            self.peak_kb = max(self.peak_kb, min(prev_kb, kb))
            prev_kb = kb

    def stop(self) -> None:
        self._halt.set()
        self.join()


# ---------------------------------------------------------------- session


def start_session(work: str, trace: bool):
    """The package's own ``build_session``, configured from outside for this
    host: driver memory from host RAM, a fixed SPARK_LOCAL_DIRS inside the
    work directory, the UI (and its REST API) only in traced runs.

    The Spark JVM compiles with C1 only (``TieredStopAtLevel=1``). With
    the default tiered compiler a session kept getting faster for three
    runs after the warm-up (14.5, 13.3, then 11.1 s on ``crawl_recrawl``),
    so a timed run measured how far C2 had got, which depends on how busy
    the host was during set-up. With C1, runs after the warm-up kept their
    speed (8.8 then 9.6 s, and 15.3 then 15.6 s, in two sessions)."""
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dirs, tmp):
        os.makedirs(d, exist_ok=True)
    heap_mb = driver_memory_mb()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp: nothing is written outside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
        ),
    }
    os.environ.update(
        SPARK_LOCAL_DIRS=local_dirs,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        SPARK_DRIVER_MEMORY=f"{heap_mb}m",
        SPARK_GRAFT_UI="1" if trace else "0",
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        )
        + " pyspark-shell",
    )
    import tempfile

    tempfile.tempdir = tmp
    from auth2wd_spark.session import build_session

    return build_session(app_name="kgbench", cpus=CORES)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and the Python workers it started, and wait
    until each has exited."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    descendants = set(process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while descendants and time.monotonic() < deadline:
        descendants = {p for p in descendants if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in descendants:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    # a later session in this process launches a fresh JVM
    from pyspark import SparkContext

    SparkContext._gateway = None
    SparkContext._jvm = None


def redirect_stderr(path: str) -> None:
    """Send fd 2, which the JVM and the Python workers inherit, to a log;
    Python's own ``sys.stderr`` keeps the original stream."""
    keep = os.dup(2)
    with open(path, "ab", buffering=0) as fh:
        os.dup2(fh.fileno(), 2)
    sys.stderr = os.fdopen(keep, "w")


# ---------------------------------------------------------------- runs


def run_untraced(inputs: dict, out_dir: str) -> dict:
    from auth2wd_spark.plans.pipeline import run_pipeline, write_outputs

    tables = run_pipeline(
        inputs["pages"], inputs["id_to_qid"], inputs["viaf_lookup"], inputs["valid_gnd_ids"]
    )
    write_outputs(tables, out_dir)
    return tables


def run_traced(spark, tracer, run_id: str, inputs: dict, out_dir: str) -> dict:
    """``run_pipeline`` + ``write_outputs`` from the layers' public functions,
    one span and job group per layer.

    Where the untraced pipeline leaves a layer's output lazy, the traced
    run materializes it at the layer boundary (route persist + count,
    snapshot and merge outputs localCheckpoint), so the work is charged to
    the layer that does it. The cost of those extra materializations is
    part of ``trace_overhead_s``."""
    from pyspark import StorageLevel

    from auth2wd_spark.operators.cc import assign_components, build_edges, connected_components
    from auth2wd_spark.operators.extract import (
        attach_secondary_bodies,
        extract,
        latest_snapshot,
        route,
    )
    from auth2wd_spark.operators.linking import link
    from auth2wd_spark.operators.merge import merge_component
    from auth2wd_spark.plans.pipeline import PipelineConfig, write_outputs

    cfg = PipelineConfig()
    sc = spark.sparkContext

    def span(name):
        return tracer.span(run_id, name)

    with span("run"):
        with span("extract.route"):
            c0 = cached_bytes(sc)
            routed = route(inputs["pages"]).persist(StorageLevel.MEMORY_AND_DISK)
            n_routed = routed.count()
            route_cached = cached_bytes(sc) - c0
        with span("extract.snapshot"):
            records = attach_secondary_bodies(latest_snapshot(routed)).localCheckpoint()
        with span("extract.parse"):
            raw = extract(records).localCheckpoint()
            routed.unpersist()
        with span("linking.link"):
            triples = link(
                raw,
                inputs["id_to_qid"],
                inputs["viaf_lookup"],
                inputs["valid_gnd_ids"],
                label_retry=cfg.label_retry,
            ).localCheckpoint()
        with span("cc.components"):
            labels = connected_components(build_edges(triples), max_iter=cfg.cc_max_iter)
        with span("cc.assign"):
            c0 = cached_bytes(sc)
            with_comp = assign_components(triples, labels).localCheckpoint()
            assign_cached = cached_bytes(sc) - c0
        tables = merge_component(with_comp, ref_cap=cfg.ref_cap)
        for layer, names in MERGE_LAYERS:
            with span(layer):
                for name in names:
                    tables[name] = tables[name].localCheckpoint()
        tables["components"] = labels
        tables["triples"] = triples
        with span("sink.write"):
            write_outputs(tables, out_dir)
    return {
        "records": records,
        "raw": raw,
        "with_comp": with_comp,
        "tables": tables,
        "n_routed": n_routed,
        "route_cached_mb": route_cached / 1e6,
        "assign_cached_mb": assign_cached / 1e6,
    }


def cached_bytes(sc) -> int:
    """Bytes of every persisted RDD block (memory + disk); no Spark job."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def accounting(spark, inputs: dict, traced: dict, n_pages: int) -> dict:
    """Rows out and ratios of one traced run, counted after it ended."""
    from pyspark.sql import functions as F

    from auth2wd_spark.operators.linking import single_hit_index

    t = traced["tables"]
    raw, records, labels = traced["raw"], traced["records"], t["components"]
    rows = {
        "extract.route": traced["n_routed"],
        "extract.snapshot": records.count(),
        "extract.parse": raw.count(),
        "linking.link": t["triples"].count(),
        "cc.components": labels.count(),
        "cc.assign": traced["with_comp"].count(),
    }
    for layer, names in MERGE_LAYERS:
        rows[layer] = sum(t[n].count() for n in names)
    rows["sink.write"] = rows["cc.components"] + sum(
        rows[layer] for layer, _ in MERGE_LAYERS
    )
    cand = raw.filter((F.col("kind") == "candidate") & (F.col("cand_kind") == "extid"))
    idx = single_hit_index(inputs["id_to_qid"])
    resolved = cand.join(
        idx, (cand["cand_property"] == idx["property"]) & (cand["cand_id"] == idx["id"]), "left_semi"
    ).count()
    n_cand = cand.count()
    largest = (
        labels.groupBy("component").count().agg(F.max("count")).first()[0] or 0
        if rows["cc.components"]
        else 0
    )
    return {
        "rows": rows,
        "extract.route.hit_ratio": traced["n_routed"] / n_pages,
        "extract.parse.yield": raw.select("src_url").distinct().count()
        / max(rows["extract.snapshot"], 1),
        "linking.link.resolve_ratio": resolved / max(n_cand, 1),
        "cc.components.largest_share": largest / max(rows["cc.components"], 1),
        "extract.route.cached_mb": traced["route_cached_mb"],
        "cc.assign.cached_mb": traced["assign_cached_mb"],
    }


class Runner:
    """Times and checks pipeline attempts for one workload and seed."""

    def __init__(self, out_dir, expected, sampler, log_path, tags):
        self.out_dir = out_dir
        self.expected = expected
        self.sampler = sampler
        self.log_path = log_path
        self.tags = tags
        self.records: list[dict] = []

    def attempt(self, spark, fn, kind: str) -> tuple[dict, object]:
        """One run of ``fn`` (``kind`` ``timed`` or ``traced``) and its
        output check."""
        from auth2wd_spark.session import release_all_cached

        from kgbench.check import mismatches, output_hashes

        release_all_cached(spark)
        timer = threading.Timer(RUN_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
        rec = {**self.tags, "run": len(self.records), "kind": kind, "ok": False}
        result = None
        timer.start()
        self.sampler.active = True
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            rec["error"] = traceback.format_exc(limit=3)
        finally:
            rec["e2e_s"] = time.perf_counter() - t0
            self.sampler.active = False
            timer.cancel()
        t1 = time.perf_counter()
        if result is not None:
            # run_pipeline's own phase clock, kept to explain slow runs
            phases = result.get("metrics") or {}
            rec["phases"] = {k: v for k, v in phases.items() if type(v) is float}
            try:
                bad = mismatches(output_hashes(spark, self.out_dir), self.expected)
                rec["mismatch"] = bad
                rec["ok"] = not bad
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
        rec["check_s"] = time.perf_counter() - t1
        self.records.append(rec)
        with open(self.log_path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(rec) + "\n")
        log(
            f"run {rec['run']} {kind} e2e_s={rec['e2e_s']:.3f} check_s={rec['check_s']:.2f}"
            f" ok={rec['ok']}"
            + (f" mismatch={rec.get('mismatch')}" if rec.get("mismatch") else "")
            + (f"\n{rec['error']}" if "error" in rec else "")
        )
        return rec, result


# ---------------------------------------------------------------- main


def read_inputs(spark, paths: dict) -> dict:
    """The input tables as frames, read with their declared schemas (no
    schema-inference job)."""
    from kgbench.inputs import SCHEMAS

    return {name: spark.read.schema(SCHEMAS[name]).parquet(p) for name, p in paths.items()}


def result_line(records: list[dict], metrics: dict) -> str:
    return json.dumps(
        {
            "correct": all(r["ok"] for r in records),
            "attempted": len(records),
            "failed": sum(not r["ok"] for r in records),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )


def layer_table(spark, tracer, run_id: str, e2e_s: float, acct: dict) -> dict[str, float]:
    """Per-layer metrics of one traced run, from its spans, the REST API
    (read once, after the run) and the run's accounting."""
    from kgbench.trace import LAYER_METRICS, Tracer, layer_metrics, read_rest

    rest = read_rest(spark.sparkContext)
    self_t = tracer.self_times(run_id)
    m: dict[str, float] = {}
    failed_tasks = layer_metrics(rest, Tracer.group(run_id, "run"))["failed_tasks"]
    for layer in LAYERS:
        spark_m = layer_metrics(rest, Tracer.group(run_id, layer))
        failed_tasks += spark_m.pop("failed_tasks")
        spark_m["wall_s"] = self_t[layer]
        spark_m["idle_core_s"] = CORES * self_t[layer] - spark_m["busy_s"]
        spark_m["rows_out"] = float(acct["rows"][layer])
        m.update({f"{layer}.{k}": spark_m[k] for k, _ in LAYER_METRICS})
    m.update({k: float(v) for k, v in acct.items() if k != "rows"})
    m["unattributed_s"] = e2e_s - sum(self_t[layer] for layer in LAYERS)
    m["failed_tasks"] = failed_tasks
    return m


def traced_metrics(spark, runner, inputs: dict, out_dir: str, n_pages: int, work: str) -> dict:
    """An untraced run, then a traced one, both warm; the per-layer
    metrics of the traced run and its time minus the untraced run's."""
    from kgbench.trace import LAYER_METRICS, Tracer

    before, _ = runner.attempt(spark, lambda: run_untraced(inputs, out_dir), "timed")
    tracer, run_id = Tracer(spark.sparkContext), "traced"
    traced, out = runner.attempt(
        spark, lambda: run_traced(spark, tracer, run_id, inputs, out_dir), "traced"
    )
    if out is None:
        raise RuntimeError("the traced run failed; there is no per-layer table to print")
    spark.sparkContext.setJobGroup(Tracer.group(run_id, "accounting"), "")
    acct = accounting(spark, inputs, out, n_pages)
    values = layer_table(spark, tracer, run_id, traced["e2e_s"], acct)
    values["trace_overhead_s"] = traced["e2e_s"] - before["e2e_s"]
    tracer.write(os.path.join(work, f"spans-{run_id}.jsonl"))

    units = {f"{layer}.{k}": u for layer in LAYERS for k, u in LAYER_METRICS}
    units.update(
        {
            "extract.route.hit_ratio": "ratio",
            "extract.parse.yield": "ratio",
            "linking.link.resolve_ratio": "ratio",
            "cc.components.largest_share": "ratio",
            "extract.route.cached_mb": "MB",
            "cc.assign.cached_mb": "MB",
            "unattributed_s": "s",
            "failed_tasks": "count",
            "trace_overhead_s": "s",
        }
    )
    return {k: (values[k], u) for k, u in units.items()}


def timed_metrics(spark, runner, inputs: dict, seconds: float, started: float) -> dict:
    """Timed runs until ``seconds`` of them are timed (at least one, and
    none that would likely end more than PROCESS_BUDGET_S after
    ``started``); their medians."""
    out_dir = runner.out_dir
    timed: list[tuple[float, int]] = []  # (e2e_s, triples) of correct runs
    while not runner.records or (
        sum(r["e2e_s"] for r in runner.records) < seconds
        and time.monotonic() - started + 1.5 * runner.records[-1]["e2e_s"] < PROCESS_BUDGET_S
    ):
        rec, tables = runner.attempt(spark, lambda: run_untraced(inputs, out_dir), "timed")
        if rec["ok"]:
            timed.append((rec["e2e_s"], tables["triples"].count()))
    e2e = [e for e, _ in timed] or [r["e2e_s"] for r in runner.records]
    return {
        "e2e_s": (statistics.median(e2e), "s"),
        "triples_per_s": (statistics.median([n / e for e, n in timed] or [0.0]), "triples/s"),
        "peak_rss_mb": (runner.sampler.peak_kb / 1024.0, "MB"),
    }


def measure(args, shape, work: str, sampler: RssSampler) -> str:
    """Set up (input, session, warm-up run), then make the timed runs in
    the same session; returns the result line."""
    from kgbench.check import load_expected
    from kgbench.inputs import build_rows, variant_of, write_inputs

    started, t0 = time.monotonic(), time.perf_counter()
    in_dir, out_dir = os.path.join(work, "input"), os.path.join(work, "out")
    rows = build_rows(shape, args.seed)
    n_pages = len(rows["pages"])
    paths = write_inputs(rows, in_dir)
    del rows
    input_s = time.perf_counter() - t0
    expected = load_expected().get(args.workload, {}).get(str(variant_of(args.seed)))
    tags = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "time": time.time()}
    runner = Runner(out_dir, expected, sampler, os.path.join(WORK, "runs.jsonl"), tags)

    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    try:
        inputs = read_inputs(spark, paths)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        run_untraced(inputs, os.path.join(work, "warmup-out"))
        warmup_s = time.perf_counter() - t0
        setup_s = input_s + session_s + warmup_s
        log(
            f"setup_s={setup_s:.3f} input_s={input_s:.3f} session_s={session_s:.3f}"
            f" warmup_s={warmup_s:.3f} pages={n_pages}"
        )
        if args.trace:
            metrics = traced_metrics(spark, runner, inputs, out_dir, n_pages, work)
        else:
            metrics = {"setup_s": (setup_s, "s"), **timed_metrics(spark, runner, inputs, args.seconds, started)}
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        log(f"stop_s={time.perf_counter() - t0:.3f} process_s={time.monotonic() - started:.1f}")
    return result_line(runner.records, metrics)


def record(args, shape, work: str) -> None:
    """Recompute and store the reference hashes of input variants."""
    from auth2wd_spark.session import release_all_cached

    from kgbench.check import EXPECTED_PATH, load_expected, output_hashes
    from kgbench.inputs import build_rows, write_inputs

    lo, hi = (int(x) for x in args.record.split("-"))
    expected = load_expected()
    in_dir, out_dir = os.path.join(work, "input"), os.path.join(work, "out")
    spark = start_session(work, trace=False)
    try:
        for variant in range(lo, hi + 1):
            paths = write_inputs(build_rows(shape, variant), in_dir)
            inputs = read_inputs(spark, paths)
            run_untraced(inputs, out_dir)
            expected.setdefault(args.workload, {})[str(variant)] = output_hashes(spark, out_dir)
            release_all_cached(spark)
            with open(EXPECTED_PATH, "w", encoding="utf-8") as fh:
                json.dump(expected, fh, indent=1, sort_keys=True)
                fh.write("\n")
            log(f"recorded {args.workload} variant {variant}")
    finally:
        stop_session(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FIRST-LAST")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import auth2wd_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the pipeline package from {ROOT}: {e}")
        return 2
    from kgbench.inputs import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    redirect_stderr(os.path.join(work, "jvm-stderr.log"))
    sampler = RssSampler()
    sampler.start()
    line, status = None, 0
    try:
        if args.record:
            record(args, WORKLOADS[args.workload], work)
        else:
            line = measure(args, WORKLOADS[args.workload], work, sampler)
    except Exception:
        log(traceback.format_exc())
        status = 1
    finally:
        sampler.stop()
    if line is not None:
        print(line, flush=True)
    return status


if __name__ == "__main__":
    sys.exit(main())
