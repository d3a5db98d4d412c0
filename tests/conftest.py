import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from honeywell_search_engine_spark.session import get_spark  # noqa: E402

TINY_DOCS = 2000  # sf-tiny per FIXTURES.md


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="hse-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_path(tmp_path_factory):
    from honeywell_search_engine_spark.sources.pages import write_pages_table

    p = tmp_path_factory.mktemp("corpus") / "pages_tiny.parquet"
    write_pages_table(str(p), TINY_DOCS)
    return str(p)


@pytest.fixture(scope="session")
def pages_pdf():
    from honeywell_search_engine_spark.sources.pages import generate_pages_pdf

    return generate_pages_pdf(TINY_DOCS)


@pytest.fixture(scope="session")
def oracle(pages_pdf):
    from honeywell_search_engine_spark.index.corpus import docid_py
    from honeywell_search_engine_spark.oracle import OracleIndex

    en = pages_pdf[pages_pdf.lang == "en"]
    return OracleIndex.build(
        [(docid_py(u), t) for u, t in zip(en.url, en.text)]
    )


@pytest.fixture(scope="session")
def seg_index(spark, pages_path, tmp_path_factory):
    from honeywell_search_engine_spark.index.corpus import (
        docs_from_pages,
        tokenized_docs,
    )
    from honeywell_search_engine_spark.index.segments import SegmentIndex, build_segments
    from honeywell_search_engine_spark.sources.pages import read_pages

    out = str(tmp_path_factory.mktemp("segidx") / "idx")
    pages = read_pages(spark, pages_path)
    tok = tokenized_docs(docs_from_pages(pages))
    build_segments(tok, out, pages_path, n_buckets=16, n_shards=4, buckets_per_job=8)
    return SegmentIndex(spark, out)
