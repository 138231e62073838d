"""Schema evolution + corrupt-file resilience (`io/evolve.py`)."""

import os

import pytest
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.io.evolve import (
    append_evolved,
    read_evolved,
    read_ignoring_corrupt,
)


def test_additive_evolution_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    r1 = append_evolved(
        spark.createDataFrame([(1, "a")], "id long, name string"), path
    )
    assert r1 == {"added": ["id", "name"], "filled_null": []}
    # batch 2 ships a NEW column and DROPS an old one
    r2 = append_evolved(
        spark.createDataFrame([(2, 9.5)], "id long, score double"), path
    )
    assert r2 == {"added": ["score"], "filled_null": ["name"]}
    got = {r["id"]: r for r in read_evolved(spark, path).collect()}
    assert set(got[1].asDict()) == {"id", "name", "score"}
    assert got[1]["name"] == "a" and got[1]["score"] is None
    assert got[2]["name"] is None and got[2]["score"] == 9.5


def test_type_conflict_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    append_evolved(spark.createDataFrame([(1, "a")], "id long, v string"), path)
    with pytest.raises(ValueError, match="type conflict.*'v'"):
        append_evolved(
            spark.createDataFrame([(2, 3.0)], "id long, v double"), path
        )
    # the refused batch must not have landed
    assert read_evolved(spark, path).count() == 1


def test_read_ignoring_corrupt_survives_bad_file(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    with open(os.path.join(path, "part-corrupt.parquet"), "wb") as f:
        f.write(b"this is not parquet at all" * 10)
    # default scan dies on the garbage file
    with pytest.raises(Exception):
        spark.read.parquet(path).count()
    # scoped resilient read serves the intact files
    assert read_ignoring_corrupt(spark, path).count() == 10
    # and the conf was restored
    assert spark.conf.get("spark.sql.files.ignoreCorruptFiles") == "false"


def test_append_onto_unreadable_table_raises(spark, tmp_path):
    """A table that holds a data file Spark cannot read is not a first
    run: the append raises and lands nothing next to the junk."""
    path = tmp_path / "t"
    path.mkdir()
    (path / "part-x.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        append_evolved(spark.createDataFrame([(1, "a")], "id long, v string"),
                       str(path))
    assert os.listdir(path) == ["part-x.parquet"]
