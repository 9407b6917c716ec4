"""Parser registry + URL routing patterns.

The Spark-side router (auth2wd_spark.operators.extract.route) compiles
ROUTES into JVM-side regexp expressions so that source detection and id
extraction never leave whole-stage codegen; the Python table here is the
single source of truth, and `parse_record` is the in-UDF dispatch.

Mirrors SUPPORTED_PROPERTIES (/root/reference/src/supported_property.rs:29-53).
"""

from __future__ import annotations

from .base import MetaItemBuilder, SourceParser
from .bne import BneParser
from .bnf import BnfParser
from .gbif import GbifParser
from .gnd import GndParser
from .idref import IdrefParser
from .inaturalist import InaturalistParser
from .isni import IsniParser
from .loc import LocParser
from .nb import NbParser
from .ncbi import NcbiParser
from .ndl import NdlParser
from .noraf import NorafParser
from .nukat import NukatParser
from .pubchem import PubchemParser
from .selibr import SelibrParser
from .ulan import UlanParser
from .viaf import ViafParser
from .worldcat import WorldcatParser

PARSERS: dict[str, SourceParser] = {
    p.source: p
    for p in (
        IsniParser(),
        ViafParser(),
        GndParser(),
        LocParser(),
        NdlParser(),
        UlanParser(),
        BnfParser(),
        IdrefParser(),
        PubchemParser(),
        SelibrParser(),
        BneParser(),
        NorafParser(),
        NukatParser(),
        NbParser(),
        WorldcatParser(),
        InaturalistParser(),
        NcbiParser(),
        GbifParser(),
    )
}

# page-URL routing: (source, java+python-compatible regex with one capture
# group = record id). First match wins; anchored.
ROUTES: tuple[tuple[str, str], ...] = (
    ("viaf", r"^https?://(?:www\.)?viaf\.org/viaf/(\d+)$"),
    ("gnd", r"^https?://d-nb\.info/gnd/([0-9X-]+)/about/lds\.rdf$"),
    ("loc", r"^https?://id\.loc\.gov/authorities/names/([a-z]+\d+)\.rdf$"),
    ("bnf", r"^https?://data\.bnf\.fr/ark:/12148/cb([0-9a-z]+)\.rdfxml$"),
    ("isni", r"^https?://isni\.org/isni/([0-9X]+)$"),
    ("idref", r"^https?://www\.idref\.fr/([0-9X]+)\.rdf$"),
    ("bne", r"^https?://datos\.bne\.es/resource/(XX\d+)\.rdf$"),
    ("selibr", r"^https?://libris\.kb\.se/resource/auth/(\d+)/data\.rdf$"),
    ("ndl", r"^https?://id\.ndl\.go\.jp/auth/ndlna/(\d+)\.rdf$"),
    ("noraf", r"^https?://authority\.bibsys\.no/authority/rest/authorities/v2/(\d+)$"),
    ("nukat", r"^https?://nukat\.edu\.pl/auth/([a-z]+\d+)$"),
    ("nb", r"^https?://data\.bibliotheken\.nl/id/thes/p([0-9X]+)$"),
    ("worldcat", r"^https?://id\.oclc\.org/worldcat/entity/([A-Za-z0-9]+)\.jsonld$"),
    ("ulan", r"^https?://vocab\.getty\.edu/ulan/(\d+)\.rdf$"),
    ("inaturalist", r"^https?://www\.inaturalist\.org/taxa/(\d+)$"),
    ("ncbi", r"^https?://eutils\.ncbi\.nlm\.nih\.gov/entrez/eutils/efetch\.fcgi\?db=taxonomy&id=(\d+)&format=xml$"),
    ("gbif", r"^https?://api\.gbif\.org/v1/species/(\d+)$"),
    ("gbif_images", r"^https?://api\.gbif\.org/v1/occurrence/search\?limit=20&media_type=stillImage&taxon_key=(\d+)$"),
    ("pubchem", r"^https?://pubchem\.ncbi\.nlm\.nih\.gov/rest/pug_view/data/compound/(\d+)/JSON/?$"),
)


def parse_record(
    source: str, record_id: str, body: str, extra_body: str | None = None
) -> tuple[str, MetaItemBuilder] | None:
    """Parse one routed record; None on parse failure (reference skips
    failed parsers silently, combinator.rs:161-164)."""
    parser = PARSERS.get(source)
    if parser is None:
        return None
    try:
        return parser.parse(record_id, body, extra_body)
    except Exception:
        return None
