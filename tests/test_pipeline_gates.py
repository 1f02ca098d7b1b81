"""The star-schema ETL's quality gates, end to end on generated raw
inputs (``perfbench.datagen``): every written table is gated by its own
write job, the results match the generator's independent row and null
counts, and a bad input still fails the run with or without an output
directory."""

from __future__ import annotations

import shutil

import duckdb
import pytest

from data_engineering_capstone_project_spark.pipeline import star_schema
from data_engineering_capstone_project_spark.quality import DataQualityError
from perfbench.datagen import write_etl_inputs


@pytest.fixture(scope="module")
def raw(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("raw"))
    return path, write_etl_inputs(path, 1, fact_rows=2_000)["tables"]


def _refuse(*args, **kwargs):
    raise AssertionError("a written table was re-scanned by a separate gate")


def test_written_tables_are_gated_by_their_write_job(spark, raw, tmp_path, monkeypatch):
    path, expected = raw
    out = str(tmp_path / "out")
    monkeypatch.setattr(star_schema, "expect_nonempty", _refuse)
    monkeypatch.setattr(star_schema, "expect_no_nulls", _refuse)
    res = star_schema.run_pipeline(spark, path, out, run_quality_checks=True)

    assert set(res.quality) == set(expected)
    gated = dict(star_schema.QUALITY_CHECKS)
    with duckdb.connect() as con:
        for table, want in expected.items():
            nulls = ", ".join(f'count(*) - count("{c}")' for c in want["nulls"])
            got = con.execute(
                f"SELECT count(*), {nulls} "
                f"FROM read_parquet('{out}/{table}.parquet/**/*.parquet')"
            ).fetchone()
            assert list(got) == [want["rows"], *want["nulls"].values()], table
            column = gated[table]
            assert res.quality[table] == {
                "rows": want["rows"],
                f"nulls_{column}": want["nulls"][column],
            }, table


def _break_airlines(path: str, dst: str, defect: str) -> str:
    shutil.copytree(path, dst)
    with open(f"{dst}/airlines.csv") as f:
        header, first, *rest = f.read().splitlines()
    if defect == "null_name":
        lines = [header, first.split(",", 1)[0] + ",", *rest]
    else:
        lines = [header]
    with open(f"{dst}/airlines.csv", "w") as f:
        f.write("\n".join(lines) + "\n")
    return dst


@pytest.mark.parametrize("defect,message", [
    ("null_name", r"dim_airlines contains NULLs: \{'airline_name': 1\}"),
    ("empty", "dim_airlines is empty"),
], ids=["null_name", "empty"])
def test_failed_gate_raises_and_is_not_committed(spark, raw, tmp_path, defect, message):
    broken = _break_airlines(raw[0], str(tmp_path / "raw"), defect)
    out = str(tmp_path / "out")
    with pytest.raises(DataQualityError, match=message):
        star_schema.run_pipeline(spark, broken, out, run_quality_checks=True, resume=True)
    manifest = star_schema._load_manifest(out)
    assert "dim_airlines" not in manifest
    assert "dim_countries" in manifest  # written before it, committed

    # Without an output directory the separate gates catch it the same way.
    with pytest.raises(DataQualityError, match=message):
        star_schema.run_pipeline(spark, broken, None, run_quality_checks=True)

    # Once the input is fixed, a resumed run rewrites exactly the rest.
    shutil.copy(f"{raw[0]}/airlines.csv", f"{broken}/airlines.csv")
    res = star_schema.run_pipeline(spark, broken, out, run_quality_checks=True, resume=True)
    assert set(res.resumed) == set(manifest)
    assert "dim_airlines" in res.quality
    assert set(res.quality) | set(res.resumed) == set(raw[1])
