from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from arrow_udf_spark import get_spark

    s = get_spark("tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


#: empty temp views the rewriter text tests query: every column any of
#: them names, under the table names they use
_REWRITE_VIEWS = ("t", "u", "a", "b")
_REWRITE_SCHEMA = (
    "id bigint, g bigint, h bigint, a bigint, b bigint, j bigint, "
    "k string, q bigint, v bigint, x bigint, y bigint, z bigint, "
    "ts timestamp"
)


@pytest.fixture
def rewrite(spark):
    """``rewrite(query, used={"sum_udaf"})`` returns the SQL text
    ``Registry.sql`` would run for ``query``, or None where it refuses.
    The query runs over empty views ``t``, ``u``, ``a`` and ``b``; the
    fold views the rewrite registers are dropped before it returns."""
    import arrow_udf_spark.functions.corpus  # noqa: F401 (registers)
    from arrow_udf_spark.plans import registry as R

    R.GLOBAL.register_sql(spark)
    empty = spark.createDataFrame([], _REWRITE_SCHEMA)
    for name in _REWRITE_VIEWS:
        empty.createOrReplaceTempView(name)

    def run(query, used=("sum_udaf",)):
        created = R._FOLD_VIEWS.names = []
        try:
            return R.GLOBAL._rewrite_two_phase(query, set(used), spark)
        finally:
            R._FOLD_VIEWS.names = None
            for name in created:
                spark.catalog.dropTempView(name)

    yield run
    for name in _REWRITE_VIEWS:
        spark.catalog.dropTempView(name)
