"""resources_exceptions plane (db/resource_exception.py,
routes/resources_exceptions.py, and the analysis-plane hooks: size-guard
bypass + requested index columns; reference tests
tests/test_analysis/test_analysis_csv_exceptions.py:21-72)."""

from __future__ import annotations

import pytest

from udata_datalake_service_spark.operators.exceptions import (
    MAX_FILESIZE_ALLOWED,
    ResourceExceptions,
    max_size_allowed,
    requested_index_columns,
    validate_table_indexes,
)
from udata_datalake_service_spark.sinks.lake import Lake


@pytest.fixture()
def lake_with_catalog(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    catalog = spark.createDataFrame(
        [("r1", "https://a.org/big.csv", False), ("r2", "https://b.org/x.csv", False)],
        "resource_id string, url string, deleted boolean",
    )
    lake.write_app_table(catalog, "catalog")
    return lake, catalog


def test_validate_table_indexes():
    assert validate_table_indexes({"siren": "index"}) == (True, None)
    ok, err = validate_table_indexes({"siren": "unique"})
    assert not ok and "index" in err
    ok, err = validate_table_indexes(["nope"])
    assert not ok and "dictionary" in err


def test_crud_and_hooks(spark, lake_with_catalog):
    lake, catalog = lake_with_catalog
    exc = ResourceExceptions(spark, lake)

    # unknown resource rejected (db/resource_exception.py:48-51)
    with pytest.raises(ValueError, match="Resource not found"):
        exc.insert("nope", catalog, {"a": "index"})
    # bad index type rejected
    with pytest.raises(ValueError, match="index type"):
        exc.insert("r1", catalog, {"a": "unique"})

    exc.insert("r1", catalog, {"siren": "index", "code_postal": "index"}, comment="big")
    row = exc.get_by_resource_id("r1")
    assert row is not None and row["comment"] == "big"
    assert requested_index_columns(row) == ["siren", "code_postal"]

    # size-guard bypass (analysis/resource.py:69, config_default.toml:52-56)
    assert max_size_allowed("csv", has_exception=row is not None) is None
    assert max_size_allowed("csv", has_exception=False) == MAX_FILESIZE_ALLOWED["csv"]
    assert max_size_allowed("xlsx", has_exception=False) == 13_107_200

    exc.update("r1", table_indexes={"siren": "index"})
    assert requested_index_columns(exc.get_by_resource_id("r1")) == ["siren"]
    assert exc.get_by_resource_id("r1")["comment"] == "big"  # untouched

    exc.delete("r1")
    assert exc.get_by_resource_id("r1") is None
    assert exc.get_all().count() == 0


def test_index_request_flows_into_lake_write(spark, lake_with_catalog, tmp_path):
    """The reference creates SQL indexes from the exception's table_indexes
    (analysis/csv.py:124-128,234-250); here they become the converted
    table's sort columns — verify the write path accepts them end-to-end."""
    lake, catalog = lake_with_catalog
    exc = ResourceExceptions(spark, lake)
    exc.insert("r2", catalog, {"id": "index"})
    cols = requested_index_columns(exc.get_by_resource_id("r2"))

    df = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], "id long, v string")
    lake.write_table(df, "conv_r2", index_columns=cols)
    back = lake.read_table("conv_r2")
    # single coalesced file sorted on the requested column
    assert [r["id"] for r in back.collect()] == [1, 2, 3]

