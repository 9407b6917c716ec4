"""Resumability: kill + rerun ⇒ identical output, completed stages reused."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from auth2wd_spark import schemas
from auth2wd_spark.corpus.generate import build_corpus
from auth2wd_spark.plans.manifests import content_hash, read_manifest, stage_is_complete
from auth2wd_spark.plans.pipeline import ITEM_TABLES, PipelineConfig, run_pipeline


@pytest.fixture(scope="module")
def corpus_frames(spark):
    corpus = build_corpus(n_persons=12, noise_pages=4)
    return (
        spark.createDataFrame(corpus["pages"], schema=schemas.PAGES),
        spark.createDataFrame(corpus["id_to_qid"], schema=schemas.ID_TO_QID),
        spark.createDataFrame(corpus["viaf_lookup"], schema=schemas.VIAF_LOOKUP),
        spark.createDataFrame(corpus["valid_gnd_ids"], schema=schemas.VALID_GND_IDS),
    )


def _claims_fingerprint(tables):
    return sorted(
        (r["component"], r["pred"], r["obj_value"])
        for r in tables["claims"].select("component", "pred", "obj_value").collect()
    )


def test_resume_after_partial_run(spark, corpus_frames, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume"))
    pages, idq, vl, vg = corpus_frames

    t1 = run_pipeline(pages, idq, vl, vg, stage_dir=out)
    fp1 = _claims_fingerprint(t1)
    assert stage_is_complete(spark, os.path.join(out, "raw"))
    assert stage_is_complete(spark, os.path.join(out, "triples"))

    # manifest carries per-file lineage + metrics
    m = read_manifest(os.path.join(out, "triples"))
    assert m["metrics"]["rows"] > 0
    assert all("content_hash" in f and f["rows"] >= 0 for f in m["files"])
    assert m["inputs"] == ["raw"]

    # simulate a crash after the link stage: downstream outputs destroyed
    for stage in ("components", *ITEM_TABLES):
        shutil.rmtree(os.path.join(out, stage), ignore_errors=True)
    raw_manifest_before = read_manifest(os.path.join(out, "raw"))

    t2 = run_pipeline(pages, idq, vl, vg, stage_dir=out)
    fp2 = _claims_fingerprint(t2)
    assert fp1 == fp2, "rerun must reproduce identical claims"
    # completed upstream stages were NOT recomputed (manifest untouched)
    assert read_manifest(os.path.join(out, "raw")) == raw_manifest_before


def test_incomplete_stage_recomputed(spark, corpus_frames, tmp_path_factory):
    """A stage dir without a manifest (interrupted write) is recomputed."""
    out = str(tmp_path_factory.mktemp("resume2"))
    pages, idq, vl, vg = corpus_frames
    run_pipeline(pages, idq, vl, vg, stage_dir=out)
    # corrupt: drop the manifest of `triples`
    os.remove(os.path.join(out, "triples", "_MANIFEST.json"))
    assert not stage_is_complete(spark, os.path.join(out, "triples"))
    t = run_pipeline(pages, idq, vl, vg, stage_dir=out)
    assert stage_is_complete(spark, os.path.join(out, "triples"))
    assert t["claims"].count() > 0


def test_staged_run_releases_route_cache(spark, corpus_frames, tmp_path_factory):
    """The staged run persists the routed pages like the in-session run
    and must release them: nothing may stay in the session's cache."""
    out = str(tmp_path_factory.mktemp("resume_cache"))
    pages, idq, vl, vg = corpus_frames
    spark.catalog.clearCache()  # start from an empty cache manager
    run_pipeline(pages, idq, vl, vg, stage_dir=out)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_staged_and_in_session_runs_agree(spark, corpus_frames, tmp_path_factory):
    """Both materialization modes produce the same components and item
    tables, with salting on in the staged run only."""
    out = str(tmp_path_factory.mktemp("resume_modes"))
    pages, idq, vl, vg = corpus_frames
    staged = run_pipeline(
        pages, idq, vl, vg, config=PipelineConfig(salt_partitions=8), stage_dir=out
    )
    in_session = run_pipeline(pages, idq, vl, vg)
    assert staged.keys() == in_session.keys()

    def digest(df):
        row = df.agg(content_hash(df.columns).alias("h"), F.count(F.lit(1)).alias("n")).first()
        return row["n"], row["h"]

    for name in ("components", *ITEM_TABLES):
        assert digest(staged[name]) == digest(in_session[name]), name
