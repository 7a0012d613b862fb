"""Session-factory conf contracts, the one concurrent-action helper
(``session.concurrently``) and the one driver-rows frame builder
(``sources.tables.local_df``)."""

import datetime as dt
import glob
import math
import os
from decimal import Decimal

import pytest
from pyspark.sql.types import StructType

from lakehouse_to_rag_spark.session import get_spark
from tests.conftest import jobs_between_markers


def test_blas_threads_pinned_in_worker_env(spark):
    """get_spark pins per-worker BLAS threading to 1 (guide §4.5:
    one Python worker per task slot — nested BLAS auto-threading
    oversubscribes cores slot×threads) unless the caller exported an
    explicit override."""
    for var in (
        "OPENBLAS_NUM_THREADS",
        "OMP_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        expected = os.environ.get(var, "1")
        assert spark.conf.get(f"spark.executorEnv.{var}") == expected


def test_concurrently_runs_every_fn_and_raises_first_failure(spark):
    """Results come back in argument order; when fns fail, every fn
    still runs to the end and the first failing fn's exception is the
    one raised."""
    import time

    from lakehouse_to_rag_spark.session import concurrently

    assert concurrently(spark, lambda: 1, lambda: 2) == [1, 2]
    finished = []

    def first():
        time.sleep(0.2)
        raise ValueError("first")

    def slow():
        time.sleep(0.4)
        finished.append("slow")

    def second():
        raise KeyError("second")

    with pytest.raises(ValueError, match="first"):
        concurrently(spark, first, slow, second)
    assert finished == ["slow"]


def _canon(v):
    """A comparable form of a collected value: NaN as a string (NaN !=
    NaN), rows and lists as tuples, maps as sorted items, binary as
    bytes."""
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, (tuple, list)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, bytearray):
        return bytes(v)
    return v


_LOCAL_DF_CASES = [
    ("a bigint", [(None,), (4611686018427387905,), (-(2**63),)]),
    ("a int", [(1,), (None,), (-(2**31),)]),
    ("a timestamp", [(dt.datetime(2021, 3, 4, 5, 6, 7, 123456),), (None,)]),
    ("a date", [(dt.date(2020, 2, 29),), (None,)]),
    ("a decimal(20,4)", [(Decimal("1234567890123456.1234"),), (None,)]),
    ("a binary", [(b"\x00\xff",), (None,)]),
    ("a array<double>", [([1.0, float("nan"), None],), (None,), ([],)]),
    ("a map<string,bigint>", [({"k": 2**62 + 1, "j": None},), (None,)]),
    ("a struct<x: bigint, y: string>", [((1, "s"),), ((2, None),), (None,)]),
    ("a double", [(float("nan"),), (None,), (1.5,)]),
    ("a bigint not null, b string not null", [(1, "x")]),
    ("a bigint, b string", []),
]


@pytest.mark.parametrize(
    "ddl,rows", _LOCAL_DF_CASES, ids=[c[0] for c in _LOCAL_DF_CASES]
)
def test_local_df_is_exact_and_jobless(spark, ddl, rows):
    """local_df hands back exactly the rows it was given -- a long
    above 2**53 beside a null, a top-level NaN and the empty list
    included -- under exactly the schema it was given (nullability
    too), and collecting it launches no Spark job."""
    from lakehouse_to_rag_spark.sources.tables import local_df

    schema = StructType.fromDDL(ddl)
    df = local_df(spark, rows, schema)
    out, launched, _ = jobs_between_markers(spark, df.collect)
    assert launched == set()
    assert df.schema == schema
    assert [_canon(tuple(r)) for r in out] == [_canon(r) for r in rows]


def test_local_df_one_row_write_is_one_file(spark, tmp_path):
    """A one-row write (a ledger marker, a ``_stats`` row) makes one
    file; the schema may be given as a DDL string."""
    from lakehouse_to_rag_spark.sources.tables import local_df

    out = str(tmp_path / "one")
    local_df(spark, [(7, "a")], "id long, s string").write.parquet(out)
    assert len(glob.glob(f"{out}/*.parquet")) == 1
    assert [tuple(r) for r in spark.read.parquet(out).collect()] == [(7, "a")]


def test_blas_pin_respects_explicit_env(monkeypatch):
    """An exported thread-count env var must win over the default pin
    (helper-level check — getOrCreate() would reuse the fixture's
    context without re-applying builder configs)."""
    from lakehouse_to_rag_spark.session import _blas_worker_env

    monkeypatch.setenv("OPENBLAS_NUM_THREADS", "4")
    env = _blas_worker_env()
    assert env["OPENBLAS_NUM_THREADS"] == "4"
    assert env["OMP_NUM_THREADS"] == "1"
    monkeypatch.delenv("OPENBLAS_NUM_THREADS")
    assert _blas_worker_env()["OPENBLAS_NUM_THREADS"] == "1"
