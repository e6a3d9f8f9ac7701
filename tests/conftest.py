from __future__ import annotations

import os

import pytest

from map_reduce_implementation_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
REF_CORPUS_DIR = "/root/reference/proj_2_base"

# goldens captured from the reference binary (FIXTURES.md §3) need its corpora
requires_ref_corpus = pytest.mark.skipif(
    not os.path.isdir(REF_CORPUS_DIR),
    reason=f"reference corpora not present at {REF_CORPUS_DIR}",
)


def _write(tmp_path, name, pdf):
    """Write ``pdf`` as ``<tmp_path>/<name>.parquet``, the layout
    ``sources.table`` reads a table from; returns the path."""
    path = str(tmp_path / f"{name}.parquet")
    pdf.to_parquet(path)
    return path


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF001
