"""The store contract the engines rely on (``apply`` K1-K4 modes,
idempotent re-apply, strict-insert refusal, fused ``apply_batch``),
pinned on the parquet store any alternative backend must match."""

import pytest
from pyspark.sql import Row

from ydb_cdc_processor_spark.operators.merge import (
    ParquetMaterializedView, StrictInsertError)


def test_store_contract_all_backends(spark, tmp_path):
    """The engine-facing contract every store must satisfy: K1-K4
    semantics, idempotent re-apply, fused apply_batch equivalence."""
    base = spark.createDataFrame(
        [Row(k=i, v=f"v{i}") for i in range(8)])
    mv = ParquetMaterializedView(spark, str(tmp_path / "pq"), ["k"],
                                 schema=base.schema)
    assert not mv.exists()
    mv.apply(base, "upsertInto")
    assert mv.exists()
    assert mv.read().count() == 8

    ups = spark.createDataFrame([Row(k=2, v="B"), Row(k=100, v="new")])
    mv.apply(ups, "upsertInto")
    got = {r.k: r.v for r in mv.read().collect()}
    assert got[2] == "B" and got[100] == "new" and len(got) == 9

    mv.apply(spark.createDataFrame([Row(k=100), Row(k=999)]),
             "deleteFrom")
    got = {r.k: r.v for r in mv.read().collect()}
    assert 100 not in got and len(got) == 8

    mv.apply(spark.createDataFrame([Row(k=3, v="C"), Row(k=500, v="x")]),
             "updateOn")
    got = {r.k: r.v for r in mv.read().collect()}
    assert got[3] == "C" and 500 not in got

    with pytest.raises(StrictInsertError):
        mv.apply(spark.createDataFrame([Row(k=3, v="boom")]),
                 "insertInto")
    assert {r.k: r.v for r in mv.read().collect()} == got  # untouched

    mv.apply_batch(spark.createDataFrame([Row(k=200, v="y")]),
                   spark.createDataFrame([Row(k=1)]), "upsertInto")
    got = {r.k: r.v for r in mv.read().collect()}
    assert got[200] == "y" and 1 not in got
