"""End-to-end Spark pipeline tests over the synthetic corpus + fixtures."""

import pytest
from pyspark.sql import functions as F

from auth2wd_spark import schemas
from auth2wd_spark.corpus.generate import build_corpus
from auth2wd_spark.plans.pipeline import PipelineConfig, run_pipeline, write_outputs
from auth2wd_spark.session import release_all_cached


@pytest.fixture(scope="module")
def corpus():
    return build_corpus(n_persons=30, noise_pages=10)


def _inputs(spark, corpus):
    """pages, id_to_qid, viaf_lookup and valid_gnd_ids as frames."""
    return [
        spark.createDataFrame(corpus[name], schema=schema)
        for name, schema in (
            ("pages", schemas.PAGES),
            ("id_to_qid", schemas.ID_TO_QID),
            ("viaf_lookup", schemas.VIAF_LOOKUP),
            ("valid_gnd_ids", schemas.VALID_GND_IDS),
        )
    ]


@pytest.fixture(scope="module")
def tables(spark, corpus):
    return run_pipeline(*_inputs(spark, corpus), PipelineConfig())


def _component_of(tables, subj):
    rows = tables["members"].filter(F.col("subj") == subj).collect()
    assert rows, f"no component for {subj}"
    return rows[0]["component"]


def test_fixture_cluster_connected(tables):
    """GND 132539691 sameAs VIAF 30701597; LOC n78095637 reaches the same
    cluster via VIAF inference; ISNI fixture too — all one component."""
    comp_gnd = _component_of(tables, "P227:132539691")
    comp_viaf = _component_of(tables, "P214:30701597")
    comp_loc = _component_of(tables, "P244:n78095637")
    assert comp_gnd == comp_viaf == comp_loc


def test_fixture_cluster_claims(tables):
    comp = _component_of(tables, "P227:132539691")
    claims = tables["claims"].filter(F.col("component") == comp).collect()
    by_pred = {}
    for c in claims:
        by_pred.setdefault(c["pred"], []).append(c)
    # GND dateOfBirth 1974 (precision 9)
    assert any(c["obj_value"] == "+1974-00-00T00:00:00Z" for c in by_pred["P569"])
    # nationality resolved: XA-DE → (297, DE) → Q183, P27 item claim, no refs
    p27 = [c for c in by_pred["P27"] if c["obj_value"] == "Q183"]
    assert p27 and p27[0]["references"] == []
    # occupation via GND-id lookup → biochemist
    assert any(c["obj_value"] == "Q864503" for c in by_pred["P106"])
    # place of birth Cologne
    assert any(c["obj_value"] == "Q365" for c in by_pred["P19"])
    # labels: de from GND, en from VIAF
    labels = {
        (r["lang"], r["label"])
        for r in tables["labels"].filter(F.col("component") == comp).collect()
    }
    assert ("de", "Magnus Manske") in labels
    assert ("en", "Magnus Manske") in labels


def test_parent_taxon_single_hit(tables):
    """NCBI parent resolves (single hit); iNat parent is ambiguous → dropped."""
    ncbi_comp = _component_of(tables, "P685:1747344")
    ncbi_claims = tables["claims"].filter(
        (F.col("component") == ncbi_comp) & (F.col("pred") == "P171")
    ).collect()
    assert [c["obj_value"] for c in ncbi_claims] == ["Q26731721"]

    inat_comp = _component_of(tables, "P3151:627975")
    inat_p171 = tables["claims"].filter(
        (F.col("component") == inat_comp) & (F.col("pred") == "P171")
    ).count()
    assert inat_p171 == 0


def test_viaf_inference(tables):
    """ULAN fixture → VIAF 27063124 via the JPG source-key lookup (J5)."""
    comp = _component_of(tables, "P245:500228559")
    p214 = tables["claims"].filter(
        (F.col("component") == comp) & (F.col("pred") == "P214")
    ).collect()
    assert any(c["obj_value"] == "27063124" for c in p214)


def test_synthetic_cluster_merge(tables):
    """Synthetic person 4 has GND+VIAF+LOC pages (4%4==0, 4%3!=2) that must
    merge into one component with reference-unioned claims."""
    comp = _component_of(tables, "P227:100000004")
    assert comp == _component_of(tables, "P214:40000004")
    assert comp == _component_of(tables, "P244:n78000004")
    members = tables["members"].filter(F.col("component") == comp).count()
    assert members >= 3


def test_fix_dates_demotion(tables):
    """Person 4 (non-hot): GND dob is year-month (4%3==1 → precision 10),
    the NB page (4%5==4) has the full date (precision 11) → lower precision
    deprecated with the P2241 reason qualifier (fix_dates, A6)."""
    comp = _component_of(tables, "P227:100000004")
    p569 = tables["claims"].filter(
        (F.col("component") == comp) & (F.col("pred") == "P569")
    ).collect()
    assert len(p569) == 2
    by_prec = {c["obj_precision"]: c for c in p569}
    assert by_prec[11]["rank"] == "normal"
    assert by_prec[10]["rank"] == "deprecated"
    assert "Q42727519" in by_prec[10]["qualifiers"]


def test_hot_cluster(tables):
    """Persons 1..2 (hot_fraction 0.1 of 30 → hot_n=3) link person 0's VIAF
    id → one giant component containing them all."""
    comp0 = _component_of(tables, "P214:40000000")
    comp1 = _component_of(tables, "P227:100000001")
    comp2 = _component_of(tables, "P227:100000002")
    assert comp0 == comp1 == comp2


def test_reference_union(tables):
    """Same claim from two sources carries both references (A1/A2 golden,
    combinator.rs:349-425): person 4's P569 full-precision date appears in
    GND (i%3==1? no — person 4 emits year-prec from GND) — use P214 extid
    instead: GND sameAs emits P214=40000004 and LOC identifiesRWO does too;
    external-id claims never accumulate refs, so check a P21 instead."""
    comp = _component_of(tables, "P227:100000004")
    p21 = tables["claims"].filter(
        (F.col("component") == comp) & (F.col("pred") == "P21")
    ).collect()
    assert len(p21) == 1  # deduplicated across sources


def test_gnd_validity_drop(tables):
    """Person 13 (i%17==13) has valid=false → sameAs P227 claims pointing at
    that GND id are dropped from OTHER records; its own-id claim remains."""
    # person 13's viaf page links DNB|gnd via sourceID (a VIAF-harvested
    # P227 extid claim, which carries no needs_gnd_check → stays); the GND
    # sameAs path is what gets checked. Verify no crash and own id present.
    comp = _component_of(tables, "P227:100000013")
    own = tables["claims"].filter(
        (F.col("component") == comp)
        & (F.col("pred") == "P227")
        & (F.col("obj_value") == "100000013")
    ).count()
    assert own >= 1


def test_metrics_are_phase_wall_times(tables):
    """run_pipeline reports exactly the four phase clocks, as floats."""
    metrics = tables["metrics"]
    assert set(metrics) == {"extract_sec", "link_sec", "cc_sec", "assign_sec"}
    assert all(type(v) is float and v >= 0 for v in metrics.values()), metrics


def test_byte_identical_text(spark, corpus):
    """input_hint invariant: extracted text byte-identical per url."""
    pages = spark.createDataFrame(corpus["pages"], schema=schemas.PAGES)
    before = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    # the pipeline never mutates pages; verify the lineage src_url → text
    # mapping still hashes identically after a round trip through routing
    from auth2wd_spark.operators.extract import latest_snapshot, route

    after = {
        r["url"]: r["text"]
        for r in latest_snapshot(route(pages)).select("url", "text").collect()
    }
    for url, text in after.items():
        assert before[url] == text, f"text mutated for {url}"


def test_salted_pipeline_output_identical(spark, corpus, tables):
    """salt_partitions > 0 changes only the physical repartition ahead of
    the merge groupBy — claims/labels/members must be byte-identical to the
    unsalted run (the hot-entity skew defense is a no-op semantically)."""
    salted = run_pipeline(*_inputs(spark, corpus), PipelineConfig(salt_partitions=8))

    def canon_claims(t):
        return {
            (r["component"], r["pred"], r["obj_type"], r["obj_value"], r["obj_lang"],
             r["obj_precision"], r["rank"], r["qualifiers"], tuple(r["references"]))
            for r in t["claims"].collect()
        }

    assert canon_claims(salted) == canon_claims(tables)
    for name in ("labels", "members"):
        a = {tuple(r) for r in salted[name].collect()}
        b = {tuple(r) for r in tables[name].collect()}
        assert a == b, name


def test_warm_run_compiles_nothing(spark, corpus, tmp_path):
    """A second run on the same input reuses every class the first one
    compiled: the session's class cache holds a whole run, and no plan
    carries generated code that differs between runs."""
    # Janino compilations in this JVM (driver and local executors share it)
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compilations = metrics.METRIC_COMPILATION_TIME()
    frames = _inputs(spark, corpus)
    compiled = []
    for run in range(2):
        before = compilations.getCount()
        write_outputs(run_pipeline(*frames), str(tmp_path / str(run)))
        compiled.append(compilations.getCount() - before)
        release_all_cached(spark)
    assert compiled[1] == 0, f"classes compiled per run: {compiled}"
