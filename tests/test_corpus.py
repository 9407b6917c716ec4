"""The list and the distributed corpus generators emit the same rows."""

from collections import Counter

from auth2wd_spark.corpus.generate import distributed_corpus, synthetic_corpus


def _bag(rows):
    return Counter(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r.values()) for r in rows
    )


def test_generators_agree(spark):
    tables = ("pages", "id_to_qid", "viaf_lookup", "valid_gnd_ids")
    listed = dict(zip(tables, synthetic_corpus(n_persons=12, noise_pages=3)))
    spread = distributed_corpus(spark, n_persons=12, noise_pages=3, partitions=2)
    for name in tables:
        got = _bag(r.asDict() for r in spread[name].collect())
        assert got == _bag(listed[name]), name
