"""session.local_frame: driver-side rows as JVM-local frames, and the
lineage log's one-file appends and checkpoint probe built on it."""

import ast
import glob
import os

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError

from parrsb_spark import graphs
from parrsb_spark.plans.lineage import LineageLog, latest_checkpoint
from parrsb_spark.session import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "parrsb_spark")


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_types_and_nulls_round_trip(spark):
    schema = "a bigint, b double, c string, d boolean, e array<double>"
    rows = [
        (1, 2.5, "x", True, [1.0, None, -3.0]),
        (-(2**63), -0.0, "", False, []),
        (None, None, None, None, None),
    ]
    df = local_frame(spark, rows, schema)
    assert df.schema == spark.createDataFrame([], schema).schema
    assert [tuple(r) for r in df.collect()] == rows


def test_nested_faces_schema_matches_create_dataframe(spark):
    faces = graphs.grid2d_periodic_faces(3, 2)
    df = local_frame(spark, faces, graphs.FACES_SCHEMA)
    ref = spark.createDataFrame(faces, schema=graphs.FACES_SCHEMA)
    assert df.schema == ref.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, ref.collect()))
    assert any(r[2] is None for r in faces)  # the fixture carries nulls


def test_empty_rows_keep_schema(spark):
    df = local_frame(spark, [], "grp long, r long, e double")
    assert df.columns == ["grp", "r", "e"]
    assert df.count() == 0


@pytest.mark.parametrize(
    "value, schema, err",
    [
        (1.5, "a bigint", PySparkTypeError),  # Arrow alone truncates to 1
        ("1", "a bigint", PySparkTypeError),
        (True, "a bigint", PySparkTypeError),
        (1, "a double", PySparkTypeError),
        (2**63, "a bigint", PySparkValueError),
        (2**31, "a int", PySparkValueError),
    ],
)
def test_value_outside_declared_type_raises(spark, value, schema, err):
    with pytest.raises(err):
        local_frame(spark, [(value,)], schema)
    with pytest.raises(err):
        spark.createDataFrame([(value,)], schema)


def test_lineage_has_no_python_rdd(spark):
    df = local_frame(spark, [(i, float(i)) for i in range(3)], "k long, v double")
    assert "PythonRDD" not in _rdd_lineage(df)
    # the list-built frame it replaces does carry one
    assert "PythonRDD" in _rdd_lineage(spark.createDataFrame([(1, 1.0)], "k long, v double"))


def test_create_dataframe_only_inside_local_frame():
    offenders = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        tree = ast.parse(open(path).read())
        allowed = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert offenders == []


def _part_files(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def test_lineage_appends_write_one_file_each(spark, tmp_path):
    log = LineageLog(spark, str(tmp_path))
    log.record_many([("k", 0, p, None, 10 * p) for p in range(2)])
    assert len(_part_files(log.lineage_path)) == 1
    log.record_many([("k", 1, p, 0.5, p) for p in range(5)])
    assert len(_part_files(log.lineage_path)) == 2
    for it in range(3):
        log.phase_mark("rsb", "fiedler", it, 0.25)
    log.flush_phases([("rsb", 2, g, None, 7) for g in range(4)])
    assert len(_part_files(log.lineage_path)) == 3
    log.flush_phases()  # nothing buffered: no append
    assert len(_part_files(log.lineage_path)) == 3
    rows = log.read().collect()
    assert len(rows) == 2 + 5 + 3 + 4
    assert sorted(r["rows"] for r in rows if r["kernel"] == "rsb" and r["rows"] is not None) == [7] * 4


def test_latest_checkpoint_fresh_dir_is_none(spark, tmp_path):
    assert latest_checkpoint(spark, str(tmp_path / "never-written"), "rsb") is None
    os.makedirs(tmp_path / "empty" / "lineage" / "_temporary")
    assert latest_checkpoint(spark, str(tmp_path / "empty"), "rsb") is None


def test_latest_checkpoint_unreadable_lineage_raises(spark, tmp_path):
    lin = tmp_path / "lineage"
    os.makedirs(lin)
    (lin / "part-00000.parquet").write_text("not a parquet file")
    with pytest.raises(Exception):
        latest_checkpoint(spark, str(tmp_path), "rsb")
