"""Deterministic synthetic corpus generator (FIXTURES.md is the spec).

Produces the pages table (exactly the input_hint shape) plus the three
dimension tables replacing the reference's live lookups:

  id_to_qid      — Wikidata external-id index (single-hit rule exercised by
                   multi-mapped and missing (property, id) pairs)
  viaf_lookup    — (source_key, id) → viaf_id (VIAF cluster-record API)
  valid_gnd_ids  — GND deprecation check

Golden rows embed the reference fixture payloads byte-for-byte when a
fixture directory is available (read-only, default
/root/reference/test_data/fixtures); procedural rows generate RDF/JSON
record variants with cross-source sameAs links so connected components and
merge have real multi-source clusters, including a hot-entity skew cluster.
Everything is seeded — no wall-clock, no network.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

FIXTURES_DIR_DEFAULT = "/root/reference/test_data/fixtures"
BASE_TS = datetime(2026, 1, 1, 0, 0, 0)

# fixture file → (source, record id, page url). GBIF images ride a second
# page; NUKAT's body is the VIAF cluster RDF (nukat.rs:69-106).
FIXTURE_MANIFEST = (
    ("viaf_30701597.rdf", "viaf", "30701597", "https://viaf.org/viaf/30701597"),
    ("viaf_98777888.rdf", "viaf", "98777888", "https://viaf.org/viaf/98777888"),
    ("viaf_98777888.rdf", "nukat", "n96637319", "https://nukat.edu.pl/auth/n96637319"),
    ("gnd_132539691.rdf", "gnd", "132539691", "https://d-nb.info/gnd/132539691/about/lds.rdf"),
    ("loc_n78095637.rdf", "loc", "n78095637", "https://id.loc.gov/authorities/names/n78095637.rdf"),
    ("loc_n80115701.rdf", "loc", "n80115701", "https://id.loc.gov/authorities/names/n80115701.rdf"),
    ("bnf_11898689q.rdf", "bnf", "11898689q", "https://data.bnf.fr/ark:/12148/cb11898689q.rdfxml"),
    ("bnf_15585136v.rdf", "bnf", "15585136v", "https://data.bnf.fr/ark:/12148/cb15585136v.rdfxml"),
    ("isni_0000000121251077.html", "isni", "0000000121251077", "https://isni.org/isni/0000000121251077"),
    ("idref_026812304.rdf", "idref", "026812304", "https://www.idref.fr/026812304.rdf"),
    ("bne_XX1234567.rdf", "bne", "XX1234567", "https://datos.bne.es/resource/XX1234567.rdf"),
    ("bne_XX990809.rdf", "bne", "XX990809", "https://datos.bne.es/resource/XX990809.rdf"),
    ("selibr_231727.rdf", "selibr", "231727", "https://libris.kb.se/resource/auth/231727/data.rdf"),
    ("ndl_00054222.rdf", "ndl", "00054222", "https://id.ndl.go.jp/auth/ndlna/00054222.rdf"),
    ("noraf_90053126.json", "noraf", "90053126", "https://authority.bibsys.no/authority/rest/authorities/v2/90053126"),
    ("nb_068364229.json", "nb", "068364229", "https://data.bibliotheken.nl/id/thes/p068364229"),
    (
        "worldcat_E39PBJrcqvXdm3kkwGr7HVG8md.jsonld",
        "worldcat",
        "E39PBJrcqvXdm3kkwGr7HVG8md",
        "https://id.oclc.org/worldcat/entity/E39PBJrcqvXdm3kkwGr7HVG8md.jsonld",
    ),
    ("ulan_500228559.rdf", "ulan", "500228559", "https://vocab.getty.edu/ulan/500228559.rdf"),
    ("inaturalist_627975.html", "inaturalist", "627975", "https://www.inaturalist.org/taxa/627975"),
    ("ncbi_1747344.xml", "ncbi", "1747344", "https://eutils.ncbi.nlm.nih.gov/entrez/eutils/efetch.fcgi?db=taxonomy&id=1747344&format=xml"),
    ("gbif_5141342.json", "gbif", "5141342", "https://api.gbif.org/v1/species/5141342"),
    (
        "gbif_5141342_images.json",
        "gbif_images",
        "5141342",
        "https://api.gbif.org/v1/occurrence/search?limit=20&media_type=stillImage&taxon_key=5141342",
    ),
    ("pubchem_22027196.json", "pubchem", "22027196", "https://pubchem.ncbi.nlm.nih.gov/rest/pug_view/data/compound/22027196/JSON/"),
)

# golden dimension rows exercising the fixtures' deferred lookups
GOLDEN_ID_TO_QID = [
    # ISO-3166 country (GND geographicAreaCode XA-DE → P27)
    {"property": 297, "id": "DE", "qid": "Q183", "label_en": "Germany", "p31": "Q6256"},
    {"property": 297, "id": "FR", "qid": "Q142", "label_en": "France", "p31": "Q6256"},
    # GND related entities (place of birth Köln, occupation Biochemiker)
    {"property": 227, "id": "4031483-2", "qid": "Q365", "label_en": "Cologne", "p31": "Q515"},
    {"property": 227, "id": "4131826-2", "qid": "Q864503", "label_en": "biochemist", "p31": "Q28640"},
    # NCBI parent taxon resolves single-hit (ncbi_taxonomy.rs:206-223 → 5 claims)
    {"property": 685, "id": "1747343", "qid": "Q26731721", "label_en": "Priocnessus", "p31": "Q16521"},
    # iNat parent taxon is ambiguous in Wikidata → two rows → dropped (single-hit rule)
    {"property": 3151, "id": "51913", "qid": "Q1137808", "label_en": "Licea", "p31": "Q16521"},
    {"property": 3151, "id": "51913", "qid": "Q99999991", "label_en": "Licea (dup)", "p31": "Q16521"},
    # GBIF parent taxon 1939297: absent on purpose (lookup miss)
]

GOLDEN_VIAF_LOOKUP = [
    # from the viaf_lookup_*.json fixture responses
    {"source_key": "ISNI", "id": "0000000121251077", "viaf_id": "27063124"},
    {"source_key": "JPG", "id": "500228559", "viaf_id": "27063124"},
    {"source_key": "LC", "id": "n78095637", "viaf_id": "30701597"},
    {"source_key": "DNB", "id": "132539691", "viaf_id": "30701597"},
    {"source_key": "NUKAT", "id": "n96637319", "viaf_id": "98777888"},
]

GOLDEN_VALID_GND = [
    {"gnd_id": "132539691", "valid": True},
    {"gnd_id": "4031483-2", "valid": True},
    {"gnd_id": "4131826-2", "valid": True},
]

COUNTRIES = (("DE", "Q183"), ("FR", "Q142"), ("SE", "Q34"), ("ES", "Q29"), ("JP", "Q17"))
OCCUPATION_POOL = tuple(f"41{k:05d}-{k % 10}" for k in range(20))  # synthetic GND ids

_GND_TEMPLATE = """<?xml version="1.0" encoding="UTF-8"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:gndo="https://d-nb.info/standards/elementset/gnd#"
         xmlns:owl="http://www.w3.org/2002/07/owl#">
<rdf:Description rdf:about="https://d-nb.info/gnd/{gnd}">
  <rdf:type rdf:resource="https://d-nb.info/standards/elementset/gnd#DifferentiatedPerson"/>
  <gndo:gndIdentifier>{gnd}</gndo:gndIdentifier>
  <gndo:preferredNameForThePerson>{last}, {first}</gndo:preferredNameForThePerson>
  <gndo:variantNameForThePerson>{last}, {initial}.</gndo:variantNameForThePerson>
  <gndo:gender rdf:resource="https://d-nb.info/standards/vocab/gnd/gender#{gender}"/>
  <gndo:geographicAreaCode rdf:resource="https://d-nb.info/standards/vocab/gnd/geographic-area-code#XA-{country}"/>
  <gndo:dateOfBirth>{dob}</gndo:dateOfBirth>
  <gndo:professionOrOccupation rdf:resource="https://d-nb.info/gnd/{occupation}"/>
  <owl:sameAs rdf:resource="http://viaf.org/viaf/{viaf}"/>
  <owl:sameAs rdf:resource="https://isni.org/isni/{isni}"/>
</rdf:Description>
</rdf:RDF>"""

_VIAF_TEMPLATE = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  xmlns:schema="http://schema.org/" xmlns:foaf="http://xmlns.com/foaf/0.1/">
<rdf:Description rdf:about="http://viaf.org/viaf/{viaf}">
  <rdf:type rdf:resource="http://schema.org/Person"/>
  <schema:name>{last}, {first}</schema:name>
  <schema:birthDate>{dob}</schema:birthDate>
</rdf:Description>
<rdf:Description rdf:about="http://viaf.org/viaf/sourceID/DNB%7C{gnd}#skos:Concept">
  <foaf:focus rdf:resource="http://viaf.org/viaf/{viaf}"/>
</rdf:Description>
<rdf:Description rdf:about="http://viaf.org/viaf/sourceID/LC%7C{loc}#skos:Concept">
  <foaf:focus rdf:resource="http://viaf.org/viaf/{viaf}"/>
</rdf:Description>
<rdf:Description rdf:about="http://viaf.org/viaf/sourceID/ISNI%7C{isni}#skos:Concept">
  <foaf:focus rdf:resource="http://viaf.org/viaf/{viaf}"/>
</rdf:Description>
</rdf:RDF>"""

_LOC_TEMPLATE = """<?xml version="1.0" encoding="UTF-8"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  xmlns:madsrdf="http://www.loc.gov/mads/rdf/v1#" xmlns:foaf="http://xmlns.com/foaf/0.1/">
<rdf:Description rdf:about="http://id.loc.gov/authorities/names/{loc}">
  <rdf:type rdf:resource="http://xmlns.com/foaf/0.1/Person"/>
  <foaf:name>{last}, {first}</foaf:name>
  <madsrdf:authoritativeLabel xml:lang="en">{last}, {first}, {year}-</madsrdf:authoritativeLabel>
  <madsrdf:identifiesRWO rdf:resource="http://viaf.org/viaf/{viaf}"/>
</rdf:Description>
</rdf:RDF>"""


def _person(i: int, rng: random.Random) -> dict:
    year = 1850 + (i * 7) % 150
    month = 1 + (i * 5) % 12
    day = 1 + (i * 11) % 28
    dob_forms = [f"{year}", f"{year}-{month:02d}", f"{year}-{month:02d}-{day:02d}"]
    return {
        "i": i,
        "first": f"Given{i}",
        "last": f"Family{i}",
        "gnd": f"1{i:08d}",
        "viaf": f"4{i:07d}",
        "loc": f"n78{i:06d}",
        "isni": f"{1000000000000000 + i}",
        "gender": "male" if i % 2 == 0 else "female",
        "country": COUNTRIES[i % len(COUNTRIES)][0],
        "country_qid": COUNTRIES[i % len(COUNTRIES)][1],
        "occupation": OCCUPATION_POOL[i % len(OCCUPATION_POOL)],
        "dob": dob_forms[i % 3],
        "dob_precise": dob_forms[2],
        "year": year,
        "qid": f"Q9{i:07d}",
    }


def _page(url: str, body: str, lang: str, ts_offset: int) -> dict:
    return {
        "url": url,
        "warc_ts": BASE_TS + timedelta(seconds=ts_offset),
        "html": body.encode("utf-8"),
        "text": body,
        "lang": lang,
    }


def fixture_pages(fixtures_dir: str | None = None) -> list[dict]:
    fixtures_dir = fixtures_dir or FIXTURES_DIR_DEFAULT
    if not os.path.isdir(fixtures_dir):
        return []
    rows = []
    for k, (fname, source, _rid, url) in enumerate(FIXTURE_MANIFEST):
        path = os.path.join(fixtures_dir, fname)
        if not os.path.exists(path):
            continue
        with open(path, encoding="utf-8") as fh:
            body = fh.read()
        lang = {"gnd": "de", "bnf": "fr", "idref": "fr", "bne": "es", "selibr": "sv", "ndl": "ja", "noraf": "no", "nb": "nl", "nukat": "pl"}.get(source, "en")
        rows.append(_page(url, body, lang, k))
    return rows


def synthetic_corpus(
    n_persons: int = 100,
    seed: int = 42,
    hot_fraction: float = 0.1,
    noise_pages: int = 50,
    wikidata_coverage: float = 0.6,
) -> tuple[list[dict], list[dict], list[dict], list[dict]]:
    """Returns (pages, id_to_qid, viaf_lookup, valid_gnd_ids) row dicts.

    ``hot_fraction`` of persons all sameAs-link person 0's VIAF cluster —
    the hot-entity skew cluster that exercises salting / skew joins.
    """
    pages: list[dict] = []
    id_to_qid, viaf_lookup, valid_gnd = static_dims()
    hot_n = max(1, int(n_persons * hot_fraction))

    for i in range(n_persons):
        pages.extend(person_pages(i, hot_n))
        pid, pvl, pvg = person_dims(i, wikidata_coverage)
        id_to_qid.extend(pid)
        viaf_lookup.extend(pvl)
        valid_gnd.extend(pvg)

    for k in range(noise_pages):
        pages.append(noise_page(k))

    return pages, id_to_qid, viaf_lookup, valid_gnd


def static_dims() -> tuple[list[dict], list[dict], list[dict]]:
    """The dimension rows that do not depend on any person (pure; shared
    by the list and the distributed generators): the golden rows, the
    occupations' GND ids and the countries' ISO codes."""
    id_to_qid = list(GOLDEN_ID_TO_QID)
    valid_gnd = list(GOLDEN_VALID_GND)
    for k, occ in enumerate(OCCUPATION_POOL):
        id_to_qid.append(
            {"property": 227, "id": occ, "qid": f"Q8{k:06d}", "label_en": f"occupation{k}", "p31": "Q28640"}
        )
        valid_gnd.append({"gnd_id": occ, "valid": True})
    for code, qid in COUNTRIES:
        if not any(r["property"] == 297 and r["id"] == code for r in id_to_qid):
            id_to_qid.append({"property": 297, "id": code, "qid": qid, "label_en": code, "p31": "Q6256"})
    return id_to_qid, list(GOLDEN_VIAF_LOOKUP), valid_gnd


def person_pages(i: int, hot_n: int) -> list[dict]:
    """All synthetic pages for person i (pure; shared by the list and the
    distributed generators)."""
    rng = random.Random(i)
    p = _person(i, rng)
    hot_viaf = _person(0, rng)["viaf"]
    viaf_for_links = hot_viaf if 0 < i < hot_n else p["viaf"]
    ts = 10_000 + i * 4
    pages = []

    gnd_body = _GND_TEMPLATE.format(
        gnd=p["gnd"],
        first=p["first"],
        last=p["last"],
        initial=p["first"][0],
        gender=p["gender"],
        country=p["country"],
        dob=p["dob"],
        occupation=p["occupation"],
        viaf=viaf_for_links,
        isni=p["isni"],
    )
    pages.append(_page(f"https://d-nb.info/gnd/{p['gnd']}/about/lds.rdf", gnd_body, "de", ts + 1))

    if i % 3 != 2:  # most persons also have a VIAF cluster page
        viaf_body = _VIAF_TEMPLATE.format(
            viaf=p["viaf"], gnd=p["gnd"], loc=p["loc"], isni=p["isni"],
            first=p["first"], last=p["last"], dob=p["dob_precise"],
        )
        pages.append(_page(f"https://viaf.org/viaf/{p['viaf']}", viaf_body, "en", ts + 2))

    if i % 5 == 4:  # some have NB thesaurus pages with full-precision dates
        nb_id = f"07{i:07d}"
        own_url = f"http://data.bibliotheken.nl/id/thes/p{nb_id}"
        nb_triples = [
            [
                {"termType": "NamedNode", "value": own_url},
                {"termType": "NamedNode", "value": "http://schema.org/name"},
                {"termType": "Literal", "value": f"{p['first']} {p['last']}", "language": "nl"},
            ],
            [
                {"termType": "NamedNode", "value": own_url},
                {"termType": "NamedNode", "value": "http://schema.org/birthDate"},
                {"termType": "Literal", "value": p["dob_precise"]},
            ],
            [
                {"termType": "NamedNode", "value": own_url},
                {"termType": "NamedNode", "value": "http://schema.org/sameAs"},
                {"termType": "NamedNode", "value": f"http://viaf.org/viaf/{viaf_for_links}"},
            ],
        ]
        pages.append(
            _page(f"https://data.bibliotheken.nl/id/thes/p{nb_id}", json.dumps(nb_triples), "nl", ts + 3)
        )

    if i % 4 == 0:  # some have LOC authority pages
        loc_body = _LOC_TEMPLATE.format(
            loc=p["loc"], first=p["first"], last=p["last"], year=p["year"], viaf=p["viaf"]
        )
        pages.append(
            _page(f"https://id.loc.gov/authorities/names/{p['loc']}.rdf", loc_body, "en", ts + 4)
        )
    return pages


def person_dims(i: int, wikidata_coverage: float) -> tuple[list[dict], list[dict], list[dict]]:
    """Dimension rows for person i (pure). Coverage is a deterministic
    hash of i, not an RNG stream, so the distributed generator agrees."""
    p = _person(i, random.Random(i))
    id_to_qid, viaf_lookup, valid_gnd = [], [], []
    viaf_lookup.append({"source_key": "DNB", "id": p["gnd"], "viaf_id": p["viaf"]})
    viaf_lookup.append({"source_key": "LC", "id": p["loc"], "viaf_id": p["viaf"]})
    # a slice of persons is GND-deprecated → their sameAs P227 claims drop
    valid_gnd.append({"gnd_id": p["gnd"], "valid": i % 17 != 13})
    if (i * 2654435761) % 1000 < int(wikidata_coverage * 1000):
        id_to_qid.append(
            {"property": 227, "id": p["gnd"], "qid": p["qid"], "label_en": f"{p['first']} {p['last']}", "p31": "Q5"}
        )
    if i % 23 == 21:  # ambiguous mapping → must be dropped by single-hit rule
        id_to_qid.append(
            {"property": 227, "id": p["gnd"], "qid": p["qid"] + "9", "label_en": "dup", "p31": "Q5"}
        )
    return id_to_qid, viaf_lookup, valid_gnd


def noise_page(k: int) -> dict:
    body = f"<html><body>noise page {k} {'lorem ipsum ' * (k % 7 + 1)}</body></html>"
    return _page(f"https://example.org/page/{k}", body, "en", 9_000_000 + k)


def build_corpus(
    n_persons: int = 100,
    seed: int = 42,
    fixtures_dir: str | None = None,
    noise_pages: int = 50,
) -> dict[str, list[dict]]:
    pages, id_to_qid, viaf_lookup, valid_gnd = synthetic_corpus(
        n_persons=n_persons, seed=seed, noise_pages=noise_pages
    )
    pages = fixture_pages(fixtures_dir) + pages
    return {
        "pages": pages,
        "id_to_qid": id_to_qid,
        "viaf_lookup": viaf_lookup,
        "valid_gnd_ids": valid_gnd,
    }


def distributed_corpus(
    spark,
    n_persons: int,
    noise_pages: int = 0,
    hot_fraction: float = 0.1,
    wikidata_coverage: float = 0.6,
    include_fixtures: bool = False,
    partitions: int | None = None,
):
    """Corpus generation as a Spark job (mapInPandas over spark.range) —
    the same pure per-person functions as the list generator, so outputs
    agree row-for-row; use this beyond ~10⁴ persons where driver-side list
    building and createDataFrame serialization would become the serial
    bottleneck of any benchmark."""
    import pandas as pd

    from .. import schemas
    from ..session import ship_package

    ship_package(spark)
    hot_n = max(1, int(n_persons * hot_fraction))
    parts = partitions or max(spark.sparkContext.defaultParallelism * 2, 8)

    idx = spark.range(0, n_persons, numPartitions=parts)

    def gen_pages(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rows.extend(person_pages(int(i), hot_n))
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    pages = idx.mapInPandas(gen_pages, schema=schemas.PAGES)
    if noise_pages:
        def gen_noise(batches):
            for pdf in batches:
                rows = [noise_page(int(k)) for k in pdf["id"]]
                yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

        pages = pages.unionByName(
            spark.range(0, noise_pages, numPartitions=max(parts // 4, 1)).mapInPandas(
                gen_noise, schema=schemas.PAGES
            )
        )
    if include_fixtures:
        fp = fixture_pages()
        if fp:
            pages = pages.unionByName(spark.createDataFrame(fp, schema=schemas.PAGES))

    def gen_dims(which):
        def gen(batches):
            for pdf in batches:
                rows = []
                for i in pdf["id"]:
                    rows.extend(person_dims(int(i), wikidata_coverage)[which])
                cols = {
                    0: ["property", "id", "qid", "label_en", "p31"],
                    1: ["source_key", "id", "viaf_id"],
                    2: ["gnd_id", "valid"],
                }[which]
                yield pd.DataFrame(rows, columns=cols)

        return gen

    static_id, static_viaf, static_gnd = static_dims()
    id_to_qid = idx.mapInPandas(gen_dims(0), schema=schemas.ID_TO_QID).unionByName(
        spark.createDataFrame(static_id, schema=schemas.ID_TO_QID)
    )
    viaf_lookup = idx.mapInPandas(gen_dims(1), schema=schemas.VIAF_LOOKUP).unionByName(
        spark.createDataFrame(static_viaf, schema=schemas.VIAF_LOOKUP)
    )
    valid_gnd = idx.mapInPandas(gen_dims(2), schema=schemas.VALID_GND_IDS).unionByName(
        spark.createDataFrame(static_gnd, schema=schemas.VALID_GND_IDS)
    )
    return {
        "pages": pages,
        "id_to_qid": id_to_qid,
        "viaf_lookup": viaf_lookup,
        "valid_gnd_ids": valid_gnd,
    }

