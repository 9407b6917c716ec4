"""Tests of the benchmark itself, on a tiny input.

    python3 -m pytest kgbench -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))

from kgbench import run  # noqa: E402
from kgbench.check import mismatches, output_hashes  # noqa: E402
from kgbench.inputs import VARIANTS, WORKLOADS, Shape, build_rows, write_inputs  # noqa: E402

TINY = Shape(persons=40, hot_fraction=0.1, noise_per_person=2.0, snapshots=3)


@pytest.fixture(scope="module")
def work():
    path = os.path.join(run.WORK, "test")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def sampler():
    s = run.RssSampler()
    s.start()
    yield s
    s.stop()


def test_two_seeds_give_different_inputs_of_the_same_shape():
    a, b = build_rows(TINY, 1), build_rows(TINY, 2)
    assert a.keys() == b.keys()
    for name in a:
        assert {tuple(sorted(r)) for r in a[name]} == {tuple(sorted(r)) for r in b[name]}
    assert {p["url"] for p in a["pages"]} != {p["url"] for p in b["pages"]}
    assert abs(len(a["pages"]) - len(b["pages"])) <= 0.1 * len(a["pages"])
    # the seed picks an input variant: the same variant, the same rows
    assert build_rows(TINY, 1) == a == build_rows(TINY, 1 + VARIANTS)


def test_recrawled_urls_keep_the_unmodified_body_latest():
    pages = build_rows(TINY, 3)["pages"]
    by_url: dict[str, list[dict]] = {}
    for p in pages:
        if "example.org" not in p["url"]:
            by_url.setdefault(p["url"], []).append(p)
    assert by_url and all(len(v) == TINY.snapshots for v in by_url.values())
    renamed = re.compile(r"Given\d+r\d")
    for snaps in by_url.values():
        latest = max(snaps, key=lambda p: p["warc_ts"])
        assert not renamed.search(latest["text"])
        assert all(renamed.search(p["text"]) for p in snaps if p is not latest)
        assert len({p["warc_ts"] for p in snaps}) == TINY.snapshots


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_prints_with_its_unit(sampler, work, trace, section):
    args = argparse.Namespace(workload="tiny", seed=5, seconds=0.1, trace=trace)
    line = run.measure(args, TINY, work, sampler)
    result = json.loads(line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)[section]}
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == declared
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_perturbed_table_is_flagged_as_failed(sampler, work):
    in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    paths = write_inputs(build_rows(TINY, 7), in_dir)
    spark = run.start_session(work, trace=False)
    try:
        _check_perturbation(spark, run.read_inputs(spark, paths), out_dir, sampler, work)
    finally:
        run.stop_session(spark)


def _check_perturbation(spark, inputs, out_dir, sampler, work):
    run.run_untraced(inputs, out_dir)
    reference = output_hashes(spark, out_dir)
    assert mismatches(reference, reference) == []

    def perturbed():
        tables = run.run_untraced(inputs, out_dir)
        from pyspark.sql import functions as F

        labels = spark.read.parquet(os.path.join(out_dir, "labels"))
        changed = labels.withColumn(
            "label", F.when(F.col("label") == labels.first()["label"], F.lit("x")).otherwise(F.col("label"))
        )
        changed.localCheckpoint().write.mode("overwrite").parquet(os.path.join(out_dir, "labels"))
        return tables

    runner = run.Runner(out_dir, reference, sampler, os.path.join(work, "runs.jsonl"), {})
    ok, _ = runner.attempt(spark, lambda: run.run_untraced(inputs, out_dir), "timed")
    bad, _ = runner.attempt(spark, perturbed, "timed")
    assert ok["ok"] and not ok["mismatch"]
    assert not bad["ok"] and bad["mismatch"] == ["labels"]
    assert mismatches(reference, None) == sorted(reference)


def test_workloads_are_the_declared_ones():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        declared = [w["name"] for w in json.load(fh)["workloads"]]
    assert sorted(declared) == sorted(WORKLOADS)
