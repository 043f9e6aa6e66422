from __future__ import annotations

import pytest

from miru_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("miru-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def index_path(spark, tmp_path_factory):
    from miru_spark.functions.codecs import CODEC_VARINT
    from miru_spark.index.writer import build_index
    from miru_spark.schema import read_corpus

    p = str(tmp_path_factory.mktemp("idx") / "sf0001")
    # small target_chunk so hot terms genuinely split across buckets
    build_index(
        spark,
        read_corpus(spark, SF_DIR),
        p,
        num_partitions=8,
        codec=CODEC_VARINT,
        target_chunk=64,
    )
    return p


@pytest.fixture(scope="session")
def reader(spark, index_path):
    from miru_spark.index.reader import IndexReader

    return IndexReader(spark, index_path)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def assert_same_topk(got, want, digits: int = 6) -> None:
    """``got`` ranks like ``want`` at ``digits``-rounded scores: non-increasing
    scores, the same score sequence, and the same (doc, score) rows above
    the last place. Docs tied at the last place are interchangeable — which
    of them a top-k keeps depends on float summation order."""
    g = [(-round(s, digits), int(d)) for d, s in got]
    w = [(-round(s, digits), int(d)) for d, s in want]
    assert [s for s, _ in g] == sorted(s for s, _ in g), got
    g, w = sorted(g), sorted(w)
    assert [s for s, _ in g] == [s for s, _ in w], (got, want)
    if w:
        last = w[-1][0]
        assert [x for x in g if x[0] != last] == [x for x in w if x[0] != last]
