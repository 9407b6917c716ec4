"""Minimal RDF/XML → triples parser (stdlib ElementTree only).

Covers the RDF/XML subset emitted by the authority sources the pipeline
ingests (VIAF, GND, LOC, BnF, IdRef, BNE, SELIBR, NDL, ULAN): node elements
(rdf:Description + typed nodes), rdf:about / rdf:resource / rdf:nodeID,
nested node elements, language-tagged and datatyped literals, property
attributes, rdf:parseType Resource/Collection/Literal, and rdf:li
containers. The reference builds the same per-record triple set with
sophia's RDF/XML parser (e.g. /root/reference/src/gnd.rs:270-281); the
Graph accessors below mirror its six graph-pattern reads
(/root/reference/src/external_importer.rs:263-352) including the
sort+dedup of every result (ordering is observable semantics).

This runs *inside* a vectorized Spark UDF, one small graph per record —
never a cluster-wide structure.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import NamedTuple

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_LANG = "{http://www.w3.org/XML/1998/namespace}lang"

_RDF_ABOUT = f"{{{RDF_NS}}}about"
_RDF_RESOURCE = f"{{{RDF_NS}}}resource"
_RDF_NODEID = f"{{{RDF_NS}}}nodeID"
_RDF_ID = f"{{{RDF_NS}}}ID"
_RDF_PARSETYPE = f"{{{RDF_NS}}}parseType"
_RDF_RDF = f"{{{RDF_NS}}}RDF"
_RDF_LI = f"{{{RDF_NS}}}li"
_RDF_TYPE = f"{RDF_NS}type"
_RDF_FIRST = f"{RDF_NS}first"
_RDF_REST = f"{RDF_NS}rest"
_RDF_NIL = f"{RDF_NS}nil"

IRI = "iri"
BNODE = "bnode"
LITERAL = "literal"


class Triple(NamedTuple):
    """NamedTuple, not a frozen dataclass: creation runs once per emitted
    triple in the extraction hot loop, and frozen-dataclass __init__
    (object.__setattr__ per field) measured ~3× the cost of tuple.__new__."""

    s: str
    s_type: str  # iri | bnode
    p: str
    o: str
    o_type: str  # iri | bnode | literal
    lang: str | None = None


# tag→IRI memo: element/attribute tags repeat across the millions of
# records a partition parses, so one dict lookup replaces the
# startswith+split per element. Bounded by the sources' vocabulary
# (a few hundred distinct tags), never by record count.
_TAG_IRI_MEMO: dict[str, str] = {}


def _tag_to_iri(tag: str) -> str:
    iri = _TAG_IRI_MEMO.get(tag)
    if iri is None:
        if tag.startswith("{"):
            ns, local = tag[1:].split("}", 1)
            iri = ns + local
        else:
            iri = tag
        if len(_TAG_IRI_MEMO) < 100_000:  # hard bound, defensive only
            _TAG_IRI_MEMO[tag] = iri
    return iri


class _Parser:
    def __init__(self) -> None:
        self.triples: list[Triple] = []
        self._bnode_counter = 0

    def fresh_bnode(self) -> str:
        self._bnode_counter += 1
        return f"genid{self._bnode_counter}"

    def emit(self, s: str, s_type: str, p: str, o: str, o_type: str, lang: str | None) -> None:
        self.triples.append(Triple(s, s_type, p, o, o_type, lang))

    def parse(self, text: str) -> list[Triple]:
        root = ET.fromstring(text)
        nodes = list(root) if root.tag == _RDF_RDF else [root]
        lang = root.get(XML_LANG)
        for child in nodes:
            self.node_element(child, lang)
        return self.triples

    def node_element(self, el: ET.Element, lang: str | None) -> tuple[str, str]:
        """Parse a node element; return (subject, subject_type)."""
        lang = el.get(XML_LANG, lang)
        if el.get(_RDF_ABOUT) is not None:
            subj, s_type = el.get(_RDF_ABOUT, ""), IRI
        elif el.get(_RDF_NODEID) is not None:
            subj, s_type = el.get(_RDF_NODEID, ""), BNODE
        elif el.get(_RDF_ID) is not None:
            subj, s_type = "#" + el.get(_RDF_ID, ""), IRI
        else:
            subj, s_type = self.fresh_bnode(), BNODE
        tag_iri = _tag_to_iri(el.tag)
        if tag_iri != f"{RDF_NS}Description":
            self.emit(subj, s_type, _RDF_TYPE, tag_iri, IRI, None)
        # property attributes (non-rdf, non-xml)
        for attr, value in el.attrib.items():
            if attr.startswith(f"{{{RDF_NS}}}") or attr.startswith("{http://www.w3.org/XML/"):
                continue
            self.emit(subj, s_type, _tag_to_iri(attr), value, LITERAL, lang)
        li_counter = 0
        for prop_el in el:
            li_counter = self.property_element(subj, s_type, prop_el, lang, li_counter)
        return subj, s_type

    def property_element(
        self, subj: str, s_type: str, el: ET.Element, lang: str | None, li_counter: int
    ) -> int:
        lang = el.get(XML_LANG, lang)
        pred = _tag_to_iri(el.tag)
        if el.tag == _RDF_LI:
            li_counter += 1
            pred = f"{RDF_NS}_{li_counter}"

        parse_type = el.get(_RDF_PARSETYPE)
        if parse_type == "Resource":
            b = self.fresh_bnode()
            self.emit(subj, s_type, pred, b, BNODE, None)
            inner_li = 0
            for child in el:
                inner_li = self.property_element(b, BNODE, child, lang, inner_li)
            return li_counter
        if parse_type == "Collection":
            members = [self.node_element(child, lang) for child in el]
            prev, prev_type = subj, s_type
            prev_pred = pred
            for m, m_type in members:
                cell = self.fresh_bnode()
                self.emit(prev, prev_type, prev_pred, cell, BNODE, None)
                self.emit(cell, BNODE, _RDF_FIRST, m, m_type, None)
                prev, prev_type, prev_pred = cell, BNODE, _RDF_REST
            self.emit(prev, prev_type, prev_pred if members else pred, _RDF_NIL, IRI, None)
            return li_counter
        if parse_type == "Literal":
            inner = (el.text or "") + "".join(
                ET.tostring(child, encoding="unicode") for child in el
            )
            self.emit(subj, s_type, pred, inner, LITERAL, lang)
            return li_counter

        if el.get(_RDF_RESOURCE) is not None:
            self.emit(subj, s_type, pred, el.get(_RDF_RESOURCE, ""), IRI, None)
            return li_counter
        if el.get(_RDF_NODEID) is not None:
            self.emit(subj, s_type, pred, el.get(_RDF_NODEID, ""), BNODE, None)
            return li_counter

        children = list(el)
        if children:
            # nested node element(s)
            for child in children:
                o, o_type = self.node_element(child, lang)
                self.emit(subj, s_type, pred, o, o_type, None)
            return li_counter

        # literal (possibly empty); rdf:datatype tracked but not stored —
        # the reference reads only the lexical form (external_importer.rs:308)
        self.emit(subj, s_type, pred, el.text or "", LITERAL, lang)
        return li_counter


class Graph:
    """In-memory per-record triple store with the reference's accessors.

    Every accessor sorts and dedups its result, mirroring
    /root/reference/src/external_importer.rs:276-278 — callers observe
    ordering, so it is part of the contract.
    """

    def __init__(self, triples: list[Triple]):
        self.triples = triples
        self._sp: dict[tuple[str, str], list[Triple]] | None = None

    @classmethod
    def from_rdfxml(cls, text: str) -> "Graph":
        return cls(_Parser().parse(text))

    @staticmethod
    def _sorted_dedup(items: list[str]) -> list[str]:
        # the accessors probe ~30 predicates per record and most buckets
        # are empty or single — skip the set+sort machinery for those
        if len(items) < 2:
            return items
        return sorted(set(items))

    def _by_sp(self, s: str, p: str) -> list[Triple]:
        """Lazy (subject, predicate) index — the subject_* accessors are
        called ~30× per record, and scanning the whole triple list each
        time was ~25% of pure parse CPU (profiled); one dict build per
        graph replaces all those scans with bucket lookups."""
        if self._sp is None:
            sp: dict[tuple[str, str], list[Triple]] = {}
            for t in self.triples:
                sp.setdefault((t.s, t.p), []).append(t)
            self._sp = sp
        return self._sp.get((s, p), [])

    def subject_iris(self, s: str, p: str) -> list[str]:
        ts = self._by_sp(s, p)
        if not ts:  # ~30 predicate probes per record, most buckets empty
            return ts
        return self._sorted_dedup(
            [t.o for t in ts if t.s_type == IRI and t.o_type == IRI]
        )

    def subject_bnodes(self, s: str, p: str) -> list[str]:
        ts = self._by_sp(s, p)
        if not ts:
            return ts
        return self._sorted_dedup(
            [t.o for t in ts if t.s_type == IRI and t.o_type == BNODE]
        )

    def subject_literals(self, s: str, p: str) -> list[str]:
        ts = self._by_sp(s, p)
        if not ts:
            return ts
        return self._sorted_dedup(
            [t.o for t in ts if t.s_type == IRI and t.o_type == LITERAL]
        )

    def property_object_iris(self, p: str, o: str) -> list[str]:
        return self._sorted_dedup(
            [t.s for t in self.triples if t.p == p and t.o == o and t.o_type == IRI and t.s_type == IRI]
        )

    def property_literals(self, p: str) -> list[str]:
        return self._sorted_dedup([t.o for t in self.triples if t.p == p and t.o_type == LITERAL])

    def bnode_triples(self, bnode_id: str) -> list[Triple]:
        return [t for t in self.triples if t.s == bnode_id and t.s_type == BNODE]
