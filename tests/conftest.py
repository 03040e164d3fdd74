import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from osmspark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session("osmspark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs(spark):
    """300-doc deterministic fixture (FIXTURES.md §1), cached."""
    from osmspark.datagen import gen_documents

    d = gen_documents(spark, 300).cache()
    d.count()
    return d


@pytest.fixture(scope="session")
def docs_py(docs):
    """The same fixture as plain Python (doc_id, spans-dicts) for the oracle."""
    return [
        (r["doc_id"], [s.asDict() for s in r["spans"]]) for r in docs.collect()
    ]


@pytest.fixture(scope="session")
def nodes(docs):
    from osmspark.sources import parse_nodes

    n = parse_nodes(docs).cache()
    n.count()
    return n


@pytest.fixture(scope="session")
def ways(docs):
    from osmspark.sources import parse_ways

    w = parse_ways(docs).cache()
    w.count()
    return w


@pytest.fixture(scope="session")
def polygons(spark):
    from osmspark.datagen import gen_polygons

    p = gen_polygons(spark).cache()
    p.count()
    return p
