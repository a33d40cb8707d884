from __future__ import annotations

import pytest

from deltoid_spark.fixtures import codegen


@pytest.fixture(scope="session")
def spark():
    from deltoid_spark.session import get_spark

    s = get_spark(cores=4, app="deltoid-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def split_batches():
    """The fixture table split mid-chain: the first half of every
    (repo, path) group's versions is the base, the rest the batch."""
    pdf = codegen.generate(2_000).sort_values(
        ["repo", "path", "commit"], kind="mergesort"
    )
    rank = pdf.groupby(["repo", "path"]).cumcount()
    sizes = pdf.groupby(["repo", "path"])["commit"].transform("size")
    first = rank < (sizes + 1) // 2
    return pdf, pdf[first].reset_index(drop=True), pdf[~first].reset_index(drop=True)
