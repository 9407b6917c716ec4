"""Per-source record parsers (the reference's ExternalImporter registry).

Each parser is a pure function of (record id, page body) → MetaItemBuilder;
no network. Lookups the reference performs over HTTP mid-extraction are
emitted as *candidate* rows and resolved by the linking joins
(auth2wd_spark.operators.linking).
"""

from .registry import PARSERS, parse_record  # noqa: F401
