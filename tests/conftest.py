from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from goodreads_pyspark_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_smoke():
    """The sf0.001 testdata directory."""
    return SF_SMOKE


@pytest.fixture(scope="session")
def goodreads_paths(tmp_path_factory):
    from tests.fixtures_goodreads import generate

    return generate(tmp_path_factory.mktemp("goodreads"))


@pytest.fixture(scope="session")
def goodreads_tables(spark, goodreads_paths):
    """Curated ETL outputs, built once per session via the source readers."""
    from goodreads_pyspark_spark.pipelines.goodreads import (
        GoodreadsTables,
        build_books,
        build_ratings_small,
        build_users,
    )
    from goodreads_pyspark_spark.sources.readers import read_csv, read_json

    books_small = read_csv(spark, goodreads_paths["books_small"])
    books_full = read_json(spark, goodreads_paths["books"])
    genres = read_json(spark, goodreads_paths["genres"])
    ratings = read_csv(spark, goodreads_paths["ratings"])
    to_read = read_csv(spark, goodreads_paths["to_read"])

    books = build_books(books_small, books_full, genres).cache()
    users = build_users(to_read).cache()
    ratings_small = build_ratings_small(ratings, books).cache()
    return GoodreadsTables(books=books, users=users, ratings_small=ratings_small)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from goodreads_pyspark_spark.sources.readers import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = Path(SF_SMOKE) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()
