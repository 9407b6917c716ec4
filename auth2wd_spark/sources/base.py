"""MetaItemBuilder + shared parser machinery.

Replicates the observable behavior of the reference's MetaItem
(/root/reference/src/meta_item.rs) and the ExternalImporter default methods
(/root/reference/src/external_importer.rs:501-767), with one architectural
change blessed by SURVEY.md §3.1: every network lookup becomes a deferred
*candidate* row resolved later by a join stage.

Claim model (plain dicts — rows of the extraction DataFrame):
    kind          claim | candidate | prop_text | label | alias | description
    pred          'P31', 'P569', ... (claims/candidates)
    obj_type      extid | string | item | time | monolingual | url
    obj_value     value string (QID / id / '+1987-00-00T00:00:00Z' / text)
    obj_lang      monolingual language (or label/alias/description lang)
    obj_precision time precision 9/10/11
    rank          normal | deprecated
    qualifiers    tuple of (pred, obj_type, obj_value)
    has_ref       statement carries the source reference (F14); suppressed
                  for VIAF & WorldCat (aggregators) and GND+P27
    needs_gnd_check  P227 sameAs claims pending the validity join (J7)
    cand_kind     extid | viaf | parent_taxon
    cand_property / cand_id      lookup key for the linking join
    fallback_property / fallback_text  prop_text emitted on lookup miss
    ord           per-record emission order (determinism for first-wins)
"""

from __future__ import annotations

from typing import Any

from ..functions.dates import parse_date
from ..functions.extid import do_not_use_external_url, subj_key, url2external_id
from ..functions.labels import (
    limit_string_length,
    lowercase_first_letter,
    transform_label_last_first_name,
)
from ..properties import (
    P_DATE_OF_BIRTH,
    P_DATE_OF_DEATH,
    P_INSTANCE_OF,
    P_LANGUAGES,
    P_SEX_OR_GENDER,
    P_VIAF,
    STATED_IN,
    prop2key,
)

Row = dict[str, Any]

SAME_AS_IRIS = (
    "http://www.w3.org/2002/07/owl#sameAs",
    "http://www.w3.org/2004/02/skos/core#exactMatch",
    "https://id.kb.se/vocab/sameAs",
    "http://schema.org/sameAs",
    "http://www.loc.gov/mads/rdf/v1#identifiesRWO",
)

LABEL_ALIAS_IRIS = (
    "http://schema.org/name",
    "https://schema.org/name",
    "http://xmlns.com/foaf/0.1/name",
    "https://xmlns.com/foaf/0.1/name",
    "http://datos.bne.es/def/P5012",
    "https://datos.bne.es/def/P5012",
    "http://d-nb.info/standards/elementset/gnd#preferredNameForThePerson",
    "https://d-nb.info/standards/elementset/gnd#preferredNameForThePerson",
    "http://d-nb.info/standards/elementset/gnd#variantNameForThePerson",
    "https://d-nb.info/standards/elementset/gnd#variantNameForThePerson",
    "http://schema.org/alternateName",
    "https://schema.org/alternateName",
    "http://www.w3.org/2000/01/rdf-schema#label",
    "https://www.w3.org/2000/01/rdf-schema#label",
)

DESCRIPTION_IRIS = (
    "http://www.w3.org/2004/02/skos/core#prefLabel",
    "https://www.w3.org/2004/02/skos/core#prefLabel",
    "http://datos.bne.es/def/P3067",
    "https://datos.bne.es/def/P3067",
    "http://rdaregistry.info/Elements/a/#P50113",
    "https://rdaregistry.info/Elements/a/#P50113",
    "http://rdvocab.info/ElementsGr2/biographicalInformation",
    "https://rdvocab.info/ElementsGr2/biographicalInformation",
    "http://www.w3.org/2004/02/skos/core#altLabel",
    "https://www.w3.org/2004/02/skos/core#altLabel",
    "http://id.kb.se/vocab/description",
    "https://id.kb.se/vocab/description",
    "http://www.loc.gov/mads/rdf/v1#authoritativeLabel",
    "https://www.loc.gov/mads/rdf/v1#authoritativeLabel",
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

PERSON_TYPE_IRIS = (
    "http://schema.org/Person",
    "http://xmlns.com/foaf/0.1/Person",
    "https://id.kb.se/vocab/Person",
    "https://d-nb.info/standards/elementset/gnd#DifferentiatedPerson",
)


def _snak_key(row: Row) -> tuple:
    return (
        row["pred"],
        row["obj_type"],
        row["obj_value"],
        row.get("obj_lang"),
        row.get("obj_precision"),
    )


class MetaItemBuilder:
    """Per-record accumulator with the reference's dedup-on-insert rules."""

    def __init__(self) -> None:
        self.rows: list[Row] = []
        self._ord = 0
        self._claims: list[Row] = []  # kind == 'claim' only, for dedup checks
        self._claim_index: dict[tuple, Row] = {}  # (snak_key, qualifiers) → row
        self._date_prec_max: dict[str, int] = {}  # P569/P570 → max precision seen
        self.labels: list[tuple[str, str]] = []
        self.aliases: list[tuple[str, str]] = []
        self.descriptions: list[tuple[str, str]] = []
        self.prop_text: list[tuple[int, str]] = []

    def _next_ord(self) -> int:
        self._ord += 1
        return self._ord

    # -- claims (meta_item.rs:96-136) ------------------------------------
    def add_claim(
        self,
        pred: int,
        obj_type: str,
        obj_value: str,
        obj_lang: str | None = None,
        obj_precision: int | None = None,
        rank: str = "normal",
        qualifiers: tuple = (),
        has_ref: bool = True,
        needs_gnd_check: bool = False,
    ) -> bool:
        row: Row = {
            "kind": "claim",
            "pred": f"P{pred}",
            "obj_type": obj_type,
            "obj_value": obj_value,
            "obj_lang": obj_lang,
            "obj_precision": obj_precision,
            "rank": rank,
            "qualifiers": tuple(sorted(qualifiers)),
            "has_ref": has_ref,
            "needs_gnd_check": needs_gnd_check,
        }
        # dict-indexed dedup: add_claim runs ~10× per record in the
        # extraction hot loop, and the linear rescan of prior claims was
        # measurable in the profile (same (snak, qualifiers) identity as
        # the reference, meta_item.rs:96-136)
        key = (_snak_key(row), row["qualifiers"])
        existing = self._claim_index.get(key)
        if existing is not None:
            if obj_type == "extid":
                return False  # never add references to external-ID claims
            if row["has_ref"] and not existing["has_ref"]:
                existing["has_ref"] = True
                return True
            return False
        # insert-time date-precision demotion (meta_item.rs:139-166)
        if row["pred"] in (f"P{P_DATE_OF_BIRTH}", f"P{P_DATE_OF_DEATH}") and obj_type == "time":
            best = self._date_prec_max.get(row["pred"], 0)
            if (obj_precision or 0) < best:
                row["rank"] = "deprecated"
            self._date_prec_max[row["pred"]] = max(best, obj_precision or 0)
        row["ord"] = self._next_ord()
        self._claims.append(row)
        self._claim_index[key] = row
        self.rows.append(row)
        return True

    # -- candidates (deferred lookups) ------------------------------------
    def add_candidate(
        self,
        cand_kind: str,
        pred: int,
        cand_property: int,
        cand_id: str,
        fallback_property: int | None = None,
        fallback_text: str | None = None,
        has_ref: bool = True,
    ) -> None:
        row: Row = {
            "kind": "candidate",
            "cand_kind": cand_kind,
            "pred": f"P{pred}",
            "cand_property": cand_property,
            "cand_id": cand_id,
            "fallback_property": fallback_property,
            "fallback_text": fallback_text,
            "has_ref": has_ref,
            "qualifiers": (),
        }
        for existing in self.rows:
            if existing["kind"] != "candidate":
                continue
            if all(existing.get(k) == row.get(k) for k in ("cand_kind", "pred", "cand_property", "cand_id")):
                return
        row["ord"] = self._next_ord()
        self.rows.append(row)

    # -- prop_text (meta_item.rs:168-173) ---------------------------------
    def add_prop_text(self, prop: int, text: str) -> None:
        if do_not_use_external_url(text):
            return
        self.prop_text.append((prop, text))
        self.rows.append(
            {
                "kind": "prop_text",
                "fallback_property": prop,
                "fallback_text": text,
                "ord": self._next_ord(),
            }
        )

    # -- terms -------------------------------------------------------------
    def label_in_locale(self, lang: str) -> str | None:
        for lg, v in self.labels:
            if lg == lang:
                return v
        return None

    def description_in_locale(self, lang: str) -> str | None:
        for lg, v in self.descriptions:
            if lg == lang:
                return v
        return None

    def push_label(self, lang: str, value: str) -> None:
        self.labels.append((lang, value))
        self.rows.append(
            {"kind": "label", "obj_lang": lang, "obj_value": value, "ord": self._next_ord()}
        )

    def push_alias(self, lang: str, value: str) -> None:
        self.aliases.append((lang, value))
        self.rows.append(
            {"kind": "alias", "obj_lang": lang, "obj_value": value, "ord": self._next_ord()}
        )

    def push_description(self, lang: str, value: str) -> None:
        self.descriptions.append((lang, value))
        self.rows.append(
            {"kind": "description", "obj_lang": lang, "obj_value": value, "ord": self._next_ord()}
        )

    def clear_descriptions(self) -> None:
        self.descriptions.clear()
        self.rows = [r for r in self.rows if r["kind"] != "description"]

    # -- cleanup (meta_item.rs:184-220) -------------------------------------
    def cleanup(self) -> None:
        """prop_text sort+dedup; claim dedup already enforced on insert."""
        seen: set[tuple[int, str]] = set()
        deduped: list[Row] = []
        pt_rows = sorted(
            (r for r in self.rows if r["kind"] == "prop_text"),
            key=lambda r: (r["fallback_property"], r["fallback_text"]),
        )
        for r in pt_rows:
            key = (r["fallback_property"], r["fallback_text"])
            if key in seen:
                continue
            seen.add(key)
            deduped.append(r)
        self.prop_text = [(r["fallback_property"], r["fallback_text"]) for r in deduped]
        self.rows = [r for r in self.rows if r["kind"] != "prop_text"] + deduped

    def claims(self) -> list[Row]:
        return list(self._claims)


class SourceParser:
    """Shared 'the usual' extraction chain (external_importer.rs:687-697).

    Subclasses set the metadata attributes and implement ``run``.
    """

    source: str = ""
    property: int = 0
    primary_language: str = "en"
    transforms_label: bool = False  # transform_label_last_first_name override
    has_ref: bool = True  # False for aggregators (VIAF viaf.rs:116-118, WorldCat)

    def stated_in(self) -> str:
        return STATED_IN[self.property]

    def get_key_url(self, record_id: str) -> str:
        raise NotImplementedError

    def transform_label(self, s: str) -> str:
        if self.transforms_label:
            return transform_label_last_first_name(s)
        return s

    def ref_for_property(self, prop: int) -> bool:
        """Whether claims for `prop` carry the source reference."""
        return self.has_ref

    # -- the usual ---------------------------------------------------------
    def add_own_id(self, b: MetaItemBuilder, record_id: str) -> None:
        b.add_claim(self.property, "extid", record_id, has_ref=self.ref_for_property(self.property))

    def try_viaf(self, b: MetaItemBuilder, record_id: str) -> None:
        """Deferred VIAF inference (viaf.rs:191-227 → linking join J5)."""
        if self.property == P_VIAF:
            return
        key = prop2key(self.property)
        if key is None:
            return
        b.add_candidate(
            "viaf",
            P_VIAF,
            cand_property=self.property,
            cand_id=self.viaf_lookup_id(record_id),
            has_ref=self.ref_for_property(P_VIAF),
        )

    def viaf_lookup_id(self, record_id: str) -> str:
        """ID format used for the VIAF source-ID lookup (NUKAT overrides)."""
        return record_id

    def add_instance_of(self, b: MetaItemBuilder, g, id_url: str) -> None:
        for url in g.subject_iris(id_url, RDF_TYPE):
            if url in PERSON_TYPE_IRIS:
                b.add_claim(
                    P_INSTANCE_OF, "item", "Q5", has_ref=self.ref_for_property(P_INSTANCE_OF)
                )
            else:
                b.add_prop_text(P_INSTANCE_OF, url)

    def add_same_as(self, b: MetaItemBuilder, g, id_url: str) -> None:
        for iri in SAME_AS_IRIS:
            for url in g.subject_iris(id_url, iri):
                if do_not_use_external_url(url):
                    continue
                extid = url2external_id(url)
                if extid is None:
                    continue
                prop, eid = extid
                b.add_claim(
                    prop,
                    "extid",
                    eid,
                    has_ref=self.ref_for_property(prop),
                    needs_gnd_check=(prop == 227),
                )

    def add_gender(self, b: MetaItemBuilder, g, id_url: str) -> None:
        for s in g.subject_literals(id_url, "http://xmlns.com/foaf/0.1/gender"):
            if s == "male":
                b.add_claim(P_SEX_OR_GENDER, "item", "Q6581097", has_ref=self.ref_for_property(P_SEX_OR_GENDER))
            elif s == "female":
                b.add_claim(P_SEX_OR_GENDER, "item", "Q6581072", has_ref=self.ref_for_property(P_SEX_OR_GENDER))
            else:
                b.add_prop_text(P_SEX_OR_GENDER, s)
        for s in g.subject_literals(id_url, "http://www.rdaregistry.info/Elements/a/P50116"):
            if s == "Masculino":
                b.add_claim(P_SEX_OR_GENDER, "item", "Q6581097", has_ref=self.ref_for_property(P_SEX_OR_GENDER))
            elif s == "Femenino":
                b.add_claim(P_SEX_OR_GENDER, "item", "Q6581072", has_ref=self.ref_for_property(P_SEX_OR_GENDER))
            else:
                b.add_prop_text(P_SEX_OR_GENDER, s)
        for url in g.subject_iris(id_url, "https://d-nb.info/standards/elementset/gnd#gender"):
            if url == "https://d-nb.info/standards/vocab/gnd/gender#male":
                b.add_claim(P_SEX_OR_GENDER, "item", "Q6581097", has_ref=self.ref_for_property(P_SEX_OR_GENDER))
            elif url == "https://d-nb.info/standards/vocab/gnd/gender#female":
                b.add_claim(P_SEX_OR_GENDER, "item", "Q6581072", has_ref=self.ref_for_property(P_SEX_OR_GENDER))
            else:
                b.add_prop_text(P_SEX_OR_GENDER, url)
        for url in g.subject_iris(id_url, "http://schema.org/gender"):
            if url == "http://vocab.getty.edu/aat/300189559":
                b.add_claim(P_SEX_OR_GENDER, "item", "Q6581097", has_ref=self.ref_for_property(P_SEX_OR_GENDER))
            elif url == "http://vocab.getty.edu/aat/500446177":
                b.add_claim(P_SEX_OR_GENDER, "item", "Q6581072", has_ref=self.ref_for_property(P_SEX_OR_GENDER))
            else:
                b.add_prop_text(P_SEX_OR_GENDER, url)

    def add_label_aliases(self, b: MetaItemBuilder, g, id_url: str) -> None:
        language = self.primary_language
        for iri in LABEL_ALIAS_IRIS:
            for s in g.subject_literals(id_url, iri):
                s = self.transform_label(s)
                s = limit_string_length(s)
                label = b.label_in_locale(language)
                if label is None:
                    b.push_label(language, s)
                elif label != s and label != self.transform_label(s):
                    b.push_alias(language, s)

    def add_description(self, b: MetaItemBuilder, g, id_url: str) -> None:
        language = self.primary_language
        for iri in DESCRIPTION_IRIS:
            for s in g.subject_literals(id_url, iri):
                if b.description_in_locale(language) is None:
                    s = limit_string_length(s)
                    if language == "fr":
                        s = lowercase_first_letter(s)
                    b.push_description(language, s)

    def add_language(self, b: MetaItemBuilder, g, id_url: str) -> None:
        for s in g.subject_literals(id_url, "http://www.rdaregistry.info/Elements/a/P50102"):
            b.add_prop_text(P_LANGUAGES, s)

    def add_the_usual(self, b: MetaItemBuilder, g, record_id: str, id_url: str) -> None:
        self.add_own_id(b, record_id)
        self.try_viaf(b, record_id)
        self.add_instance_of(b, g, id_url)
        self.add_same_as(b, g, id_url)
        self.add_gender(b, g, id_url)
        self.add_label_aliases(b, g, id_url)
        self.add_description(b, g, id_url)
        self.add_language(b, g, id_url)

    def add_date_claims(
        self, b: MetaItemBuilder, values: list[str], prop: int
    ) -> None:
        for s in values:
            parsed = parse_date(s)
            if parsed is not None:
                time, precision = parsed
                b.add_claim(
                    prop, "time", time, obj_precision=precision, has_ref=self.ref_for_property(prop)
                )
            else:
                b.add_prop_text(prop, s)

    # -- entry point ---------------------------------------------------------
    def parse(self, record_id: str, body: str, extra_body: str | None = None) -> tuple[str, MetaItemBuilder]:
        """Parse one record → (effective record id, builder).

        The effective id can differ from the requested one (GND redirect
        fixup, gnd.rs:260-268). ``extra_body`` carries a second page joined
        pre-extraction (GBIF occurrence-search images, SURVEY §2.1 S16).
        """
        b = MetaItemBuilder()
        eff = self.run(record_id, body, b, extra_body) or record_id
        b.cleanup()
        return eff, b

    def run(
        self, record_id: str, body: str, b: MetaItemBuilder, extra_body: str | None = None
    ) -> str | None:
        raise NotImplementedError

    def subject(self, record_id: str) -> str:
        return subj_key(self.property, record_id)
