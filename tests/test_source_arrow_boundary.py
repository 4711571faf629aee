"""The Python data sources cross into the JVM at one Arrow boundary:
every leg of the versioned-table stream source (snapshot/append, CDC
insert, CDC diff) projects each file once to the declared schema's
Arrow types with a safe cast, and the Avro primitive leg builds its
batches with the same row builder. Widened columns read like the batch
reader, values the declared type cannot hold raise instead of
truncating, temporal and decimal columns survive a non-UTC session,
and each source registers once per session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from meta_iterative_mapreduce_spark.sources import avro_ocf as A
from meta_iterative_mapreduce_spark.sources import versioned as V
from meta_iterative_mapreduce_spark.sources.pysource import BATCH_ROWS
from meta_iterative_mapreduce_spark.streaming.table_source import (
    _plan_cdc_versions,
    _plan_version_files,
    _read_cdc_spec,
    _read_spec,
    make_versioned_table_source,
    stream_cdc,
    stream_changes,
)


def _reader(table, **opts):
    """The stream reader instantiated outside Spark."""
    cls = make_versioned_table_source()
    src = cls(options={"path": table, **{k.lower(): str(v) for k, v in opts.items()}})
    return src, src.streamReader(src.schema())


def _direct_batches(table, v_from, v_to, key=None):
    """Every RecordBatch the source's legs yield for (v_from, v_to],
    read outside Spark, plus the declared Arrow schema they must carry."""
    if key is None:
        src, r = _reader(table)
        specs = _plan_version_files(table, v_from, v_to, True, r.fields)
        batches = [b for s in specs for b in _read_spec(s)]
    else:
        src, r = _reader(table, cdckey=key)
        specs = _plan_cdc_versions(table, v_from, v_to, key, r.fields)
        batches = [b for s in specs for b in _read_cdc_spec(s)]
    return batches, to_arrow_schema(src.schema())


def _drain(df, cols, ckpt):
    """All rows of a stream, each column rendered as a string by Spark
    (under the session time zone) so values compare without a Python
    conversion in between."""
    got: list = []
    q = (
        df.writeStream.foreachBatch(
            lambda bdf, _bid: got.extend(
                map(tuple, bdf.select(*[F.col(c).cast("string") for c in cols]).collect())
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return sorted(got, key=repr)


def _as_strings(df, cols):
    return sorted(
        map(tuple, df.select(*[F.col(c).cast("string") for c in cols]).collect()),
        key=repr,
    )


def _replace_file(table, v, rows: dict):
    """Overwrite the single file version `v` added with a hand-written
    parquet file of `rows` (column -> Arrow array); returns its path."""
    (rel,) = V.manifest_info(table, v)["added"]
    path = os.path.join(table, rel)
    pq.write_table(pa.table(rows), path)
    return path


def _widened_table(spark, tmp_path):
    """v1 stores int32 `n` and float32 `x`; v2 widens them to long and
    double; v3 rewrites a v1-file row (copy-on-write), so its diff
    reads the narrow file on the old side."""
    table = str(tmp_path / "wide")
    narrow = spark.range(0, 30).select(
        F.col("id").alias("k"),
        (F.col("id") * 7).cast("int").alias("n"),
        (F.col("id") / 4).cast("float").alias("x"),
    )
    V.write_version(narrow.coalesce(1), table)
    wide = spark.range(30, 40).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 + 3_000_000_000).alias("n"),
        (F.col("id") / 3).cast("double").alias("x"),
    )
    V.append_version(wide.coalesce(1), table)
    V.update_where(spark, table, {"n": "n + 1"}, "k = 4")
    fields = {f["name"]: f["type"] for f in V.manifest_info(table)["schema"]["fields"]}
    assert fields == {"k": "long", "n": "long", "x": "double"}
    assert pq.read_schema(
        os.path.join(table, V.manifest_info(table, 1)["added"][0])
    ).field("n").type == pa.int32()
    return table


def test_widened_columns_equal_the_batch_reader_on_every_leg(spark, tmp_path):
    table = _widened_table(spark, tmp_path)
    cols = ["k", "n", "x"]
    # snapshot + append legs (versions 1-2), before the DML
    got = _drain(
        stream_changes(spark, table, until_version=2), cols, str(tmp_path / "c1")
    )
    assert got == _as_strings(V.read_version(spark, table, version=2), cols)
    # CDC insert legs (v1 snapshot, v2 append) and the diff leg (v3)
    cdc_cols = ["k", "op", "old_n", "new_n", "old_x", "new_x"]
    for v in (2, 3):
        ck = str(tmp_path / f"cdc{v}")
        _drain(stream_cdc(spark, table, "k", until_version=v - 1), cdc_cols, ck)
        got = _drain(stream_cdc(spark, table, "k", until_version=v), cdc_cols, ck)
        want = _as_strings(V.read_changes(spark, table, v - 1, v, "k"), cdc_cols)
        assert got == want and got, v
    # every leg's batches carry exactly the declared Arrow schema
    for key in (None, "k"):
        batches, schema = _direct_batches(table, 0, 3, key)
        assert batches and all(b.schema == schema for b in batches)


def test_lossy_stored_value_raises_naming_file_and_column(spark, tmp_path):
    """1.5 stored under a declared long cannot be represented: every
    leg raises a ValueError naming the file and the column (pyarrow's
    unchecked array build and Spark's tuple converter both truncate it
    to 1 silently)."""
    table = str(tmp_path / "lossy")
    V.write_version(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").coalesce(1),
        table,
    )
    V.update_where(spark, table, {"v": "v + 1"}, "k = 1")
    lossy = {"k": pa.array([1, 2], pa.int64()), "v": pa.array([1.5, 21.0])}
    p1 = _replace_file(table, 1, lossy)
    _replace_file(table, 2, lossy)
    for legs, path in (
        (lambda: _direct_batches(table, 0, 1), p1),  # snapshot
        (lambda: _direct_batches(table, 0, 1, key="k"), p1),  # CDC insert
        (lambda: _direct_batches(table, 1, 2, key="k"), p1),  # CDC diff
    ):
        with pytest.raises(ValueError, match="column 'v'") as info:
            legs()
        assert os.path.basename(path) in str(info.value)
    # and the stream fails loudly instead of emitting a truncated row
    with pytest.raises(Exception, match="column 'v'"):
        _drain(stream_changes(spark, table, until_version=1), ["k", "v"], str(tmp_path / "ck"))


def test_int_stored_under_string_reads_as_its_string_on_the_diff_leg(
    spark, tmp_path
):
    """A stored int under a declared string casts to its decimal
    string — what Spark's tuple converter (str()) produced — on the
    diff leg too, where the row build used to raise ArrowTypeError."""
    table = str(tmp_path / "intstr")
    V.write_version(spark.createDataFrame([(1, "a")], "k long, s string"), table)
    V.update_where(spark, table, {"s": "'b'"}, "k = 1")
    _replace_file(table, 2, {"k": pa.array([1], pa.int64()), "s": pa.array([1], pa.int64())})
    batches, schema = _direct_batches(table, 1, 2, key="k")
    assert [b.schema for b in batches] == [schema]
    assert pa.Table.from_batches(batches).to_pylist() == [
        {"k": 1, "op": "U", "old_s": "a", "new_s": "1"}
    ]
    (snap,), _ = _direct_batches(table, 1, 2)
    assert snap.to_pylist() == [{"k": 1, "s": "1"}]


def test_temporal_and_decimal_streams_equal_batch_reads_in_la_session(
    spark, tmp_path
):
    table = str(tmp_path / "temporal")
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.range(0, 6).selectExpr(
            "id AS k",
            # crosses the LA daylight-saving switch (10:00 UTC)
            "timestamp'2024-03-10T08:00:00Z'"
            " + make_interval(0, 0, 0, 0, cast(id AS int), 0, 0) AS ts",
            "timestamp_ntz'2024-03-10 01:30:00'"
            " + make_interval(0, 0, 0, cast(id AS int), 0, 0, 0) AS ntz",
            "date_add(date'2024-02-28', cast(id AS int)) AS d",
            "cast(id * 100 + 0.25 AS decimal(10,2)) AS dec",
        )
        V.write_version(df.coalesce(1), table)
        V.update_where(spark, table, {"ts": "ts + interval 1 hour"}, "k = 2")
        cols = ["k", "ts", "ntz", "d", "dec"]
        got = _drain(
            stream_changes(spark, table, until_version=1), cols, str(tmp_path / "c")
        )
        assert got == _as_strings(V.read_version(spark, table, version=1), cols)
        assert ("0", "2024-03-10 00:00:00", "2024-03-10 01:30:00", "2024-02-28", "0.25") in got
        others = ["ts", "ntz", "d", "dec"]
        cdc_cols = ["k", "op"] + [f"old_{c}" for c in others] + [f"new_{c}" for c in others]
        ck = str(tmp_path / "cdc")
        # insert leg: the v1 snapshot as 'I' rows
        got = _drain(stream_cdc(spark, table, "k", until_version=1), cdc_cols, ck)
        assert {r[1] for r in got} == {"I"}
        assert [(r[0], *r[-len(others):]) for r in got] == _as_strings(
            V.read_version(spark, table, version=1), cols
        )
        # diff leg: the copy-on-write update of v2
        got = _drain(stream_cdc(spark, table, "k", until_version=2), cdc_cols, ck)
        want = _as_strings(V.read_changes(spark, table, 1, 2, "k"), cdc_cols)
        assert got == want and len(got) == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_large_diff_emits_bounded_batches(spark, tmp_path):
    """A diff spec with more than BATCH_ROWS output rows emits several
    batches of at most BATCH_ROWS rows, not one batch per spec."""
    table = str(tmp_path / "big")
    n = BATCH_ROWS + 4_464
    V.write_version(spark.range(0, n).selectExpr("id AS k", "id * 2 AS v").coalesce(1), table)
    V.delete_where(spark, table, "k >= 0")
    batches, schema = _direct_batches(table, 1, 2, key="k")
    assert len(batches) > 1
    assert all(b.num_rows <= BATCH_ROWS and b.schema == schema for b in batches)
    assert sum(b.num_rows for b in batches) == n


def _avro_reader(root, reader_schema=None):
    """The mimr_avro batch reader instantiated outside Spark."""
    opts = {"path": root}
    if reader_schema is not None:
        opts["readerschema"] = json.dumps(reader_schema)
    src = A._avro_source_class()(options=opts)
    return src.reader(src.schema())


def test_avro_primitive_leg_promotes_and_bounds_batches(spark, tmp_path):
    """Avro's primitive leg shares the row builder: int->long and
    float->double reader promotions arrive as int64/float64 columns
    equal to the promoted values, and a span longer than BATCH_ROWS
    records arrives as several bounded batches."""
    writer = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "n", "type": "int"},
            {"name": "x", "type": "float"},
        ],
    }
    reader = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "n", "type": "long"},
            {"name": "x", "type": "double"},
        ],
    }
    n = BATCH_ROWS + 100
    recs = [{"n": i - 7, "x": i / 4} for i in range(n)]
    root = tmp_path / "avro"
    root.mkdir()
    (root / "part-0.avro").write_bytes(
        A.encode_avro(recs, writer, codec="null", block_records=n)
    )
    rd = _avro_reader(str(root), reader)
    (part,) = rd.partitions()
    batches = list(rd.read(part))
    assert len(batches) == 2
    assert all(b.num_rows <= BATCH_ROWS for b in batches)
    assert batches[0].schema == pa.schema([("n", pa.int64()), ("x", pa.float64())])
    assert pa.Table.from_batches(batches).to_pylist() == [
        {"n": r["n"], "x": r["x"]} for r in recs
    ]
    A.register_avro_source(spark)
    df = (
        spark.read.format("mimr_avro")
        .option("path", str(root))
        .option("readerSchema", json.dumps(reader))
        .load()
    )
    assert df.count() == n
    assert df.agg(F.sum("n"), F.sum("x")).first() == (
        sum(r["n"] for r in recs),
        sum(r["x"] for r in recs),
    )


_REGISTER_SCRIPT = """
import json, sys
from pyspark.sql.datasource import DataSourceRegistration
from meta_iterative_mapreduce_spark.session import get_spark
from meta_iterative_mapreduce_spark.sources import avro_ocf as A
from meta_iterative_mapreduce_spark.sources import versioned as V
from meta_iterative_mapreduce_spark.streaming.table_source import (
    stream_cdc,
    stream_changes,
)

calls = []
real = DataSourceRegistration.register

def counting(self, source):
    calls.append(source.name())
    return real(self, source)

DataSourceRegistration.register = counting
root = sys.argv[1]
spark = get_spark("register-once", cpus=1, shuffle_partitions=1)
V.write_version(spark.range(0, 5).selectExpr("id AS k"), root + "/t")
stream_changes(spark, root + "/t")
stream_changes(spark, root + "/t")
stream_cdc(spark, root + "/t", "k")
schema = {"type": "record", "name": "R", "fields": [{"name": "a", "type": "long"}]}
with open(root + "/part-0.avro", "wb") as fh:
    fh.write(A.encode_avro([{"a": 1}, {"a": 2}], schema))
rows = []
for _ in range(2):
    A.register_avro_source(spark)
    rows.append(spark.read.format("mimr_avro").option("path", root).load().count())
print(json.dumps({"calls": calls, "rows": rows}))
spark.stop()
"""


def test_each_source_registers_once_per_session(tmp_path):
    """stream_changes / stream_cdc and Avro reads register their
    source once per session, not on every call. Runs in a fresh
    process: the suite's shared session has the sources registered
    already, and a Spark session cannot unregister one."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "MIMR_DRIVER_MEM": "1g",
        "PYTHONPATH": os.pathsep.join(
            [repo] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    }
    proc = subprocess.run(
        [sys.executable, "-c", _REGISTER_SCRIPT, str(tmp_path)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {
        "calls": ["mimr_versioned_table", "mimr_avro"],
        "rows": [2, 2],
    }
