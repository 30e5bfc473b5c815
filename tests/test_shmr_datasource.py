"""Tests for the ``shmr`` Python DataSource (sources/shmr_datasource.py):
read/write round trips, codec + compression handling, per-file task
parallelism, .meta sidecars, and — the real interop claim — that its
outputs are valid inputs for the REFERENCE CLI itself."""

from __future__ import annotations

import glob
import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from shmr_spark.sources import shmr_datasource
from shmr_spark.sources.shmr_datasource import (
    ShmrDataSource,
    ShmrReader,
    _decode_file,
    _FilePartition,
    _json_batches,
    _open_by_ext,
)
from tests.conftest import PEOPLE, people_rows, requires_reference


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(ShmrDataSource)
    return spark


def test_json_roundtrip_with_meta(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "ds")
    df = spark.range(100).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE)/3 AS v")
    df.repartition(4).write.format("shmr").mode("append").save(out)

    files = sorted(os.listdir(out))
    parts = [f for f in files if f.endswith(".json")]
    metas = [f for f in files if f.endswith(".meta")]
    assert len(parts) == 4 and len(metas) == 4
    # sidecars carry real counts summing to the dataset size
    total = sum(
        json.load(open(os.path.join(out, m)))["n_records"] for m in metas
    )
    assert total == 100
    assert json.load(open(os.path.join(out, "_SUCCESS")))["n_records"] == 100

    back = (
        spark.read.format("shmr")
        .schema("id bigint, k bigint, v double")
        .load(f"{out}/part-*.json")
    )
    assert back.count() == 100
    assert back.agg(F.sum("id")).collect()[0][0] == 4950
    # one Spark task per file — the reference's parallelism unit
    assert back.rdd.getNumPartitions() == 4


def test_json_schema_inference(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "ds")
    spark.range(10).selectExpr(
        "id", "CAST(id AS DOUBLE) AS x", "id % 2 = 0 AS flag", "repeat('a', 3) AS s"
    ).coalesce(1).write.format("shmr").mode("append").save(out)
    inf = spark.read.format("shmr").load(f"{out}/part-*.json")
    assert dict(inf.dtypes) == {
        "id": "bigint",
        "x": "double",
        "flag": "boolean",
        "s": "string",
    }


def test_csv_skip_nrows_reference_fixture(registered):
    """Read the people fixture (the reference's CSV layout): the header
    is skipped, and count and age sum match a pure-Python csv read."""
    spark = registered
    rows = people_rows()
    csv = (
        spark.read.format("shmr")
        .schema("full_name string, first string, last string, age string")
        .option("codec", "csv")
        .option("skip_nrows", "1")
        .load(f"{PEOPLE}/people.00.csv")
    )
    assert csv.count() == len(rows)
    assert csv.select(F.sum(F.col("age").cast("int"))).collect()[0][0] == sum(
        int(r[3]) for r in rows
    )


def test_gzip_roundtrip(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "gz")
    spark.range(50).selectExpr("id").coalesce(2).write.format("shmr").option(
        "compression", "gz"
    ).mode("append").save(out)
    parts = [f for f in os.listdir(out) if f.endswith(".json.gz")]
    assert len(parts) == 2
    back = (
        spark.read.format("shmr").schema("id bigint").load(f"{out}/part-*.json.gz")
    )
    assert back.agg(F.sum("id")).collect()[0][0] == 49 * 50 // 2


def test_text_codec(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "txt")
    spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",)], "value string"
    ).coalesce(1).write.format("shmr").option("codec", "text").mode("append").save(out)
    back = (
        spark.read.format("shmr").option("codec", "text").load(f"{out}/part-*.txt")
    )
    assert sorted(r.value for r in back.collect()) == ["alpha", "beta", "gamma"]


@requires_reference
def test_writer_output_is_valid_reference_input(registered, tmp_path):
    """Interop both ways: files written by the DataSource run through
    the actual reference CLI (count must use our .meta sidecar; map
    must parse our ND-JSON lines)."""
    from tests.test_differential_reference import run_ref

    spark = registered
    out = str(tmp_path / "ds")
    spark.range(100).selectExpr("id AS x").coalesce(1).write.format("shmr").mode(
        "append"
    ).save(out)

    import glob

    part = glob.glob(f"{out}/part-*.json")[0]
    cnt = tmp_path / "n.txt"
    run_ref(["-i", part, "partition.count", "--outfile", str(cnt)])
    assert cnt.read_text() == "100"

    mapped = tmp_path / "mapped.json"
    run_ref(
        [
            "-i", part,
            "partition.map", "--fn", "tests.cli_fixture_fns.by_x",
            "--outfile", str(mapped),
        ]
    )
    vals = [json.loads(line) for line in mapped.read_text().splitlines()]
    assert vals == list(range(100))


@requires_reference
def test_writer_gz_output_is_valid_reference_input(registered, tmp_path):
    """Same interop claim for COMPRESSED output: the .meta sidecar of
    'part-N.json.gz' must be 'part-N.json.meta' (reference's
    single-extension rule, partition_writer.py:64-70) so the reference
    CLI's memoized count actually consumes it."""
    from tests.test_differential_reference import run_ref

    spark = registered
    out = str(tmp_path / "ds")
    spark.range(100).selectExpr("id AS x").coalesce(1).write.format("shmr").option(
        "compression", "gz"
    ).mode("append").save(out)

    import glob

    part = glob.glob(f"{out}/part-*.json.gz")[0]
    # sidecar sits next to the datafile under the reference's naming
    assert os.path.exists(part[: -len(".gz")] + ".meta")

    cnt = tmp_path / "n.txt"
    run_ref(["-i", part, "partition.count", "--outfile", str(cnt)])
    assert cnt.read_text() == "100"

    mapped = tmp_path / "mapped.json"
    run_ref(
        [
            "-i", part,
            "partition.map", "--fn", "tests.cli_fixture_fns.by_x",
            "--outfile", str(mapped),
        ]
    )
    vals = [json.loads(line) for line in mapped.read_text().splitlines()]
    assert vals == list(range(100))


def test_overwrite_clears_previous_files(registered, tmp_path):
    """mode('overwrite') must not leave stale part files from a wider
    previous write mixing into subsequent reads."""
    spark = registered
    out = str(tmp_path / "ds")
    spark.range(40).selectExpr("id").repartition(4).write.format("shmr").mode(
        "overwrite"
    ).save(out)
    spark.range(10).selectExpr("id").repartition(2).write.format("shmr").mode(
        "overwrite"
    ).save(out)
    parts = [f for f in os.listdir(out) if f.endswith(".json")]
    assert len(parts) == 2
    back = spark.read.format("shmr").schema("id bigint").load(f"{out}/part-*.json")
    assert back.count() == 10


def test_append_does_not_clobber(registered, tmp_path):
    """Two append jobs write distinct files (per-job token) — the
    second append must not truncate the first's part-00000."""
    spark = registered
    out = str(tmp_path / "ds")
    for _ in range(2):
        spark.range(25).selectExpr("id").coalesce(1).write.format("shmr").mode(
            "append"
        ).save(out)
    parts = [f for f in os.listdir(out) if f.endswith(".json")]
    assert len(parts) == 2
    back = spark.read.format("shmr").schema("id bigint").load(f"{out}/part-*.json")
    assert back.count() == 50
    assert not [f for f in os.listdir(out) if f.startswith(".inprogress-")]


def test_json_writer_handles_timestamps_and_decimals(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "ts")
    spark.sql(
        "SELECT TIMESTAMP '2024-05-06 07:08:09' AS ts, DATE '2024-05-06' AS d, "
        "CAST(1.5 AS DECIMAL(10,2)) AS dec, CAST(NULL AS STRING) AS s"
    ).coalesce(1).write.format("shmr").mode("append").save(out)
    line = json.loads(
        open(os.path.join(out, [f for f in os.listdir(out) if f.endswith(".json")][0]))
        .read()
        .strip()
    )
    assert line["ts"].startswith("2024-05-06T07:08:09")
    assert line["d"] == "2024-05-06"
    assert line["dec"] == 1.5
    assert line["s"] is None


def test_inference_tolerates_nulls(registered, tmp_path):
    spark = registered
    out = tmp_path / "nulls"
    out.mkdir()
    with open(out / "p.json", "w") as f:
        f.write('{"a": null, "b": 1}\n{"a": 5, "b": 2}\n{"a": null, "c": null}\n')
    df = spark.read.format("shmr").load(str(out / "p.json"))
    assert dict(df.dtypes) == {"a": "bigint", "b": "bigint", "c": "string"}
    got = sorted(((r.a, r.b) for r in df.collect()), key=repr)
    assert got == sorted([(None, None), (None, 1), (5, 2)], key=repr)


def test_csv_typed_read_and_malformed_error(registered, tmp_path):
    spark = registered
    d = tmp_path / "csv"
    d.mkdir()
    with open(d / "p.csv", "w") as f:
        f.write("alice,30\nbob,\n")
    df = (
        spark.read.format("shmr")
        .schema("name string, age int")
        .option("codec", "csv")
        .load(str(d / "p.csv"))
    )
    rows = {r.name: r.age for r in df.collect()}
    assert rows == {"alice": 30, "bob": None}  # typed int + empty→NULL

    with open(d / "bad.csv", "w") as f:
        f.write("x,1,EXTRA\n")
    bad = (
        spark.read.format("shmr")
        .schema("name string, age int")
        .option("codec", "csv")
        .load(str(d / "bad.csv"))
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="malformed|MALFORMED|fields"):
        bad.collect()


def test_stream_reader_incremental_files(registered, tmp_path):
    """readStream over a growing partition directory: the first batch
    ingests the existing files, later batches pick up ONLY the new
    ones (exactly-once: no re-reads of committed files)."""
    import json as jsonmod
    import time

    spark = registered
    d = tmp_path / "stream_in"
    d.mkdir()
    for i in range(2):
        with open(d / f"part-{i:05d}.json", "w") as f:
            for j in range(5):
                f.write(jsonmod.dumps({"x": i, "y": i * 5 + j}) + "\n")

    sdf = (
        spark.readStream.format("shmr")
        .schema("x bigint, y bigint")
        .option("codec", "json")
        .load(str(d))
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("shmr_stream_test")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )

    def _wait_for(n, timeout=30):
        deadline = time.time() + timeout
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM shmr_stream_test").collect()
            if len(rows) >= n:
                return rows
            time.sleep(0.3)
        raise AssertionError(
            f"stream did not reach {n} rows in {timeout}s "
            f"(got {len(rows)})"
        )

    try:
        rows = _wait_for(10)
        assert len(rows) == 10
        # a new file sorting AFTER the high-water name streams in
        with open(d / "part-00002.json", "w") as f:
            for j in range(3):
                f.write(jsonmod.dumps({"x": 2, "y": 100 + j}) + "\n")
        rows = _wait_for(13)
        got = {(r.x, r.y) for r in rows}
        assert (2, 100) in got and (2, 102) in got
        assert len(rows) == 13  # earlier files not re-read
    finally:
        q.stop()


def test_stream_reader_rejects_out_of_order_file(registered, tmp_path):
    """A file materializing BELOW the committed high-water name would
    be silently skipped by a name-watermark source; ours fails the
    query with a clear message instead."""
    import json as jsonmod
    import time

    spark = registered
    d = tmp_path / "stream_ooo"
    d.mkdir()
    with open(d / "part-00005.json", "w") as f:
        f.write(jsonmod.dumps({"x": 1}) + "\n")

    sdf = (
        spark.readStream.format("shmr")
        .schema("x bigint")
        .load(str(d))
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("shmr_stream_ooo")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT * FROM shmr_stream_ooo").count() >= 1:
                break
            time.sleep(0.3)
        # late file BELOW the committed high-water name
        with open(d / "part-00001.json", "w") as f:
            f.write(jsonmod.dumps({"x": 2}) + "\n")
        deadline = time.time() + 30
        while q.isActive and time.time() < deadline:
            time.sleep(0.3)
        assert not q.isActive, "query should fail on out-of-order file"
        err = str(q.exception())
        assert "sorted-name order" in err or "BELOW" in err
    finally:
        if q.isActive:
            q.stop()


def test_stream_pipeline_checkpoint_restart_exactly_once(registered, tmp_path):
    """End-to-end incremental corpus ingest: shmr stream source →
    annotate → parquet sink with checkpoint. The query is STOPPED and
    RESTARTED from the checkpoint with a new file present — the
    committed files must not be re-processed (offset log honored), the
    new file must land exactly once."""
    import json as jsonmod
    import time

    spark = registered
    src = tmp_path / "incoming"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def _write_file(i, n):
        with open(src / f"part-{i:05d}.json", "w") as f:
            for j in range(n):
                f.write(jsonmod.dumps({"doc_id": i * 100 + j, "text": f"doc {i} {j}"}) + "\n")

    def _start():
        from pyspark.sql import functions as F

        sdf = (
            spark.readStream.format("shmr")
            .schema("doc_id bigint, text string")
            .load(str(src))
            .withColumn("n_chars", F.length("text"))
        )
        return (
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    def _wait_rows(n, timeout=30):
        deadline = time.time() + timeout
        count = -1
        while time.time() < deadline:
            try:
                count = spark.read.parquet(sink).count()
            except Exception:
                count = 0
            if count >= n:
                return count
            time.sleep(0.3)
        raise AssertionError(f"sink at {count} rows, wanted {n}")

    _write_file(0, 4)
    _write_file(1, 4)
    q = _start()
    try:
        assert _wait_rows(8) == 8
    finally:
        q.stop()

    # new file arrives while the query is DOWN; restart from checkpoint
    _write_file(2, 3)
    q = _start()
    try:
        assert _wait_rows(11) == 11  # == : files 0/1 not re-processed
        got = {r.doc_id for r in spark.read.parquet(sink).collect()}
        assert {200, 201, 202} <= got
    finally:
        q.stop()


@pytest.mark.heavy  # slow evidence re-derivation; run via `pytest -m heavy` each round
def test_pushdown_filters_match_spark_side_evaluation(registered, tmp_path):
    """The pushdown tier must be semantics-invisible: every filter
    evaluated source-side (incl. three-valued NULL logic under NOT /
    IN) returns exactly the rows the plain reader + Spark-side filter
    returns on the same data."""
    import json as jsonmod

    spark = registered
    d = tmp_path / "push"
    d.mkdir()
    recs = [
        {"x": 1, "s": "apple"},
        {"x": 2, "s": "banana"},
        {"x": None, "s": "pear"},
        {"x": 5, "s": None},
        {"x": 7, "s": "plum"},
        {"x": -3, "s": ""},
        {"x": None, "s": None},
    ]
    with open(d / "part-00000.json", "w") as f:
        for r in recs:
            f.write(jsonmod.dumps(r) + "\n")

    def rd(push):
        r = spark.read.format("shmr").schema("x bigint, s string")
        if push:
            r = r.option("pushdown", "true")
        return r.load(str(d / "part-*.json"))

    predicates = [
        "x > 1",
        "NOT (x > 1)",
        "x IN (2, 7)",
        "NOT (x IN (2, 7))",
        "x IS NULL",
        "s IS NOT NULL",
        "s <=> NULL",
        "s LIKE 'p%'",
        "s LIKE '%m'",
        "s LIKE '%an%'",
        "x >= 2 AND x <= 5",
        "x = 5 OR s = 'apple'",  # OR: not pushable, stays Spark-side
    ]
    for p in predicates:
        pushed = sorted(map(tuple, rd(True).filter(p).collect()), key=repr)
        plain = sorted(map(tuple, rd(False).filter(p).collect()), key=repr)
        assert pushed == plain, f"pushdown diverged on {p!r}"

    # doubles incl. NaN: Spark orders NaN greater than everything and
    # NaN == NaN — the pushed evaluator must agree, not Python's
    # all-False NaN comparisons (separate directory: its own schema)
    dn = tmp_path / "push_nan"
    dn.mkdir()
    with open(dn / "part-00000.json", "w") as f:
        for v in [1.5, float("nan"), -2.0, None]:
            f.write(jsonmod.dumps({"y": v}) + "\n")

    def rd_d(push):
        r = spark.read.format("shmr").schema("y double")
        if push:
            r = r.option("pushdown", "true")
        return r.load(str(dn / "part-*.json"))

    for p in ["y > 1.0", "y <= 1.5", "NOT (y > 1.0)", "y = CAST('NaN' AS DOUBLE)"]:
        # repr-compare: Python's nan != nan would fail tuple equality
        pushed = sorted(repr(tuple(r)) for r in rd_d(True).filter(p).collect())
        plain = sorted(repr(tuple(r)) for r in rd_d(False).filter(p).collect())
        assert pushed == plain, f"NaN pushdown diverged on {p!r}"
    # the NaN row itself must survive y > 1.0 (NaN is largest in Spark)
    import math

    kept = [r.y for r in rd_d(True).filter("y > 1.0").collect()]
    assert any(isinstance(v, float) and math.isnan(v) for v in kept)


def test_pushdown_appears_in_plan_and_cuts_transfer(registered, tmp_path):
    import json as jsonmod

    spark = registered
    d = tmp_path / "push_plan"
    d.mkdir()
    with open(d / "part-00000.json", "w") as f:
        for i in range(100):
            f.write(jsonmod.dumps({"x": i}) + "\n")
    df = (
        spark.read.format("shmr")
        .schema("x bigint")
        .option("pushdown", "true")
        .load(str(d / "part-*.json"))
        .filter("x > 90")
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters" in plan and "GreaterThan(x,90)" in plan
    assert df.count() == 9


def test_struct_columns_round_trip(registered, tmp_path):
    """Struct values are written as JSON objects keyed by field name,
    at every depth, so the reader takes the writer's output back."""
    spark = registered
    out = str(tmp_path / "st")
    schema = (
        "id bigint, st struct<x: bigint, y: string>, "
        "arr array<struct<x: bigint, z: array<struct<w: double>>>>, "
        "m map<string, struct<x: bigint>>"
    )
    df = spark.sql(
        "SELECT id, named_struct('x', id, 'y', concat('v', id)) AS st, "
        "array(named_struct('x', id, 'z', array(named_struct('w', id / 2)))) AS arr, "
        "map('k', named_struct('x', id * 2)) AS m FROM range(5)"
    )
    df.coalesce(1).write.format("shmr").mode("append").save(out)
    with open(glob.glob(f"{out}/part-*.json")[0]) as f:
        assert json.loads(f.readline())["st"] == {"x": 0, "y": "v0"}
    back = spark.read.format("shmr").schema(schema).load(f"{out}/part-*.json")
    assert sorted(back.collect()) == sorted(df.collect())


def _write_lines(path, data: bytes) -> str:
    with _open_by_ext(str(path), "wb") as f:
        f.write(data)
    return str(path)


def test_malformed_json_lines_name_file_and_line(registered, tmp_path):
    """A non-object or blank line fails with the file and line number,
    as the CSV path does, not with AttributeError or a bare
    JSONDecodeError."""
    schema = StructType([StructField("a", LongType())])
    for data, what in ((b'{"a":1}\n[1,2]\n', "expected an object"), (b'{"a":1}\n\n{"a":2}\n', "Expecting value")):
        p = _write_lines(tmp_path / "bad.json", data)
        with pytest.raises(ValueError, match=rf"malformed JSON record in {p} line 2: {what}"):
            list(_decode_file(p, schema, "json", 0))
    with pytest.raises(Exception, match="malformed JSON record in .*bad.json line 2"):
        registered.read.format("shmr").schema("a bigint").load(p).collect()


# The differential decoder check: _json_batches (Arrow blocks) against
# _decode_file (per line), both through the tuple→Arrow conversion
# Spark applies to a reader's output.
_DIFF_SCHEMA = StructType(
    [
        StructField("a", LongType()),
        StructField("i", IntegerType()),
        StructField("b", DoubleType()),
        StructField("s", StringType()),
        StructField("t", BooleanType()),
    ]
)


def _spark_rows(it):
    """Rows as Spark receives them from a reader iterator (repr, so that
    -0.0 differs from 0.0 and NaN equals NaN), or the exception type."""
    from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

    try:
        batches = list(records_to_arrow_batches(iter(it), 10000, _DIFF_SCHEMA, ShmrDataSource({})))
    except Exception as e:  # the outcome under comparison
        return type(e)
    return [repr(tuple(r.values())) for b in batches for r in b.to_pylist()]


def _both_decoders(path: str, skip_nrows: int, block_bytes: int):
    old = shmr_datasource._BLOCK_BYTES
    shmr_datasource._BLOCK_BYTES = block_bytes
    try:
        got = _spark_rows(_json_batches(path, _DIFF_SCHEMA, skip_nrows))
    finally:
        shmr_datasource._BLOCK_BYTES = old
    return got, _spark_rows(_decode_file(path, _DIFF_SCHEMA, "json", skip_nrows))


@pytest.mark.parametrize(
    "data, skip_nrows",
    [
        pytest.param(b'{"a":1}\n\n{"a":2}{"a":3}\n', 0, id="blank_line_and_two_objects_on_one_line"),
        pytest.param(b'{"a":1}{"a":2}\n', 0, id="two_objects_on_one_line"),
        pytest.param(b'{"b":-0}\n{"b":1.5}\n', 0, id="minus_zero_double"),
        pytest.param(b'{"b":-0.0}\n', 0, id="minus_zero_point_zero_double"),
        pytest.param(b'{"a":"12"}\n', 0, id="string_to_bigint"),
        pytest.param(b'{"s":5}\n', 0, id="number_to_string"),
        pytest.param(b'{"s":true}\n', 0, id="bool_to_string"),
        pytest.param(b'{"a":1.0}\n', 0, id="float_to_bigint"),
        pytest.param(b'{"t":"true"}\n', 0, id="string_to_boolean"),
        pytest.param(b'{"a":1,"a":2}\n', 0, id="duplicate_key"),
        pytest.param(b'{"b":NaN}\n{"b":-Infinity}\n', 0, id="nan"),
        pytest.param(b'{"b":1e400}\n', 0, id="overflowing_double"),
        pytest.param(b'{"s":"\\ud800"}\n', 0, id="lone_surrogate"),
        pytest.param(b'{"x":"\xff"}\n', 0, id="bad_utf8_in_ignored_field"),
        pytest.param(b'{"a":1}\nnull\n', 0, id="null_line"),
        pytest.param(b'{"a":1}\r\n{"s":"x"}\r\n', 0, id="crlf"),
        pytest.param(b'{"a":1}\n{"a":2}', 0, id="no_trailing_newline"),
        pytest.param(b"", 0, id="empty_file"),
        pytest.param(b'{"a":1}\n{"a":2}\n', 5, id="skip_nrows_past_end"),
        pytest.param(b'{"a":1}\n   ', 0, id="whitespace_last_line"),
    ],
)
def test_json_block_decoder_matches_per_line(tmp_path, data, skip_nrows):
    path = _write_lines(tmp_path / "p.json", data)
    for block_bytes in (1, 1 << 20):
        got, want = _both_decoders(path, skip_nrows, block_bytes)
        assert got == want, (block_bytes, got, want)


_json_value = st.recursive(
    st.none() | st.booleans() | st.integers(-(2**70), 2**70) | st.floats() | st.text(max_size=5),
    lambda c: st.lists(c, max_size=3) | st.dictionaries(st.text(max_size=3), c, max_size=3),
    max_leaves=5,
)
_typed_line = st.builds(
    lambda rec, ascii_only: json.dumps(rec, ensure_ascii=ascii_only).encode(),
    st.fixed_dictionaries(
        {},
        optional={
            "a": st.none() | st.integers(-(2**63), 2**63 - 1),
            "i": st.none() | st.integers(-(2**31), 2**31 - 1),
            "b": st.none() | st.floats() | st.integers(-(2**80), 2**80),
            "s": st.none() | st.text(),
            "t": st.none() | st.booleans(),
            "x": _json_value,
        },
    ),
    st.booleans(),
)
_any_line = st.dictionaries(st.sampled_from("aibstx"), _json_value, max_size=4).map(
    lambda rec: json.dumps(rec).encode()
)
_malformed_line = st.sampled_from(
    [b"", b"  ", b"null", b"[1,2]", b'"x"', b"{", b'{"a":1}{"a":2}', b'{"a":1}\r{"a":2}',
     b'{"a":01}', b'{"b":-0}', b'{"a":"12"}', b'{"s":5}', b'{"a":1.0}', b'{"a":1,"a":2}',
     b'{"b":NaN}', b'{"b":1e400}', b'{"s":"\\ud800"}', b'{"s":"\xed\xa0\x80"}', b'{"x":"\xff"}',
     b'\xef\xbb\xbf{"a":1}', b'{"i":3000000000}', b'{"x":[1,', b'2]}', b' {"a":1}']
) | st.binary(max_size=10).map(lambda b: b"{" + b + b"}")


@settings(max_examples=150, deadline=None)
@given(
    st.lists(_typed_line | _typed_line | _any_line | _malformed_line, max_size=8),
    st.sampled_from([b"\n", b"\r\n"]),
    st.booleans(),
    st.integers(0, 3),
    st.booleans(),
    st.integers(1, 64),
)
def test_json_block_decoder_differential(tmp_path_factory, lines, newline, trailing, skip_nrows, gz, block_bytes):
    """Any mix of well-typed, coercing and malformed lines: the same
    rows as the per-line decoder, or an exception on both sides. (Which
    fault surfaces first in a file with several can differ: Spark
    converts tuples 10000 rows at a time, the block decoder a block at
    a time.)"""
    data = newline.join(lines) + (newline if trailing and lines else b"")
    path = _write_lines(tmp_path_factory.mktemp("d") / ("p.json.gz" if gz else "p.json"), data)
    got, want = _both_decoders(path, skip_nrows, block_bytes)
    if isinstance(want, type):
        assert isinstance(got, type), (data, got, want)
    else:
        assert got == want, (data, got, want)


def test_flat_json_reads_as_record_batches(tmp_path, monkeypatch):
    """The Arrow block path engages on a well-formed flat gz file: the
    reader yields RecordBatches, which Spark passes through, and no
    block falls back to the per-line decoder."""
    import pyarrow as pa

    def per_line(*args):
        raise AssertionError("a well-formed block fell back to the per-line decoder")

    monkeypatch.setattr(shmr_datasource, "_json_rows", per_line)

    recs = [{"id": i, "key": f"k{i % 7}", "x": i / 4, "ok": i % 2 == 0} for i in range(3000)]
    path = _write_lines(
        tmp_path / "part-00000.json.gz",
        "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in recs).encode(),
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("key", StringType()),
            StructField("x", DoubleType()),
            StructField("ok", BooleanType()),
        ]
    )
    out = list(ShmrReader(schema, {"path": path}).read(_FilePartition(path)))
    assert out and all(isinstance(b, pa.RecordBatch) for b in out)
    assert pa.Table.from_batches(out).to_pylist() == recs


@pytest.mark.parametrize("compression", ["", "gz"])
def test_json_writer_matches_json_dumps(registered, tmp_path, compression):
    """The Arrow writer's lines are byte-identical to json.dumps of each
    collected row as a dict, and the .meta counts sum to _SUCCESS."""
    from shmr_spark.sources.shmr_datasource import _json_default

    spark = registered
    out = str(tmp_path / "w")
    df = spark.sql(
        r"""
        SELECT id, CAST(id AS INT) AS i, id % 3 = 0 AS flag,
          CASE id % 9 WHEN 0 THEN 'héllo' WHEN 1 THEN 'q"uote' WHEN 2 THEN 'back\\slash'
            WHEN 3 THEN concat('c', char(1), char(10), char(31)) WHEN 4 THEN concat('del', char(127))
            WHEN 5 THEN '日本😀' WHEN 6 THEN NULL ELSE concat('plain ', id) END AS s,
          concat('k', id) AS ascii,
          CASE id % 7 WHEN 0 THEN CAST('NaN' AS DOUBLE) WHEN 1 THEN CAST('Infinity' AS DOUBLE)
            WHEN 2 THEN CAST('-Infinity' AS DOUBLE) WHEN 3 THEN 1e16 WHEN 4 THEN -0.0
            WHEN 5 THEN NULL ELSE id / 3.0 END AS d,
          CAST(id / 7.0 AS FLOAT) AS f,
          CASE WHEN id % 4 = 0 THEN NULL ELSE array(id, NULL) END AS arr,
          map('a', id, 'b', NULL) AS m,
          TIMESTAMP '2024-05-06 07:08:09.123456' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
          DATE '2024-05-06' + CAST(id AS INT) AS dt,
          CAST(id / 3 AS DECIMAL(12, 4)) AS dec,
          CAST(concat('b', id) AS BINARY) AS bin,
          CAST(NULL AS BIGINT) AS nul
        FROM range(0, 200)
        """
    )
    df.repartition(3).write.format("shmr").option("compression", compression).mode("append").save(out)
    names = df.columns
    want = sorted(
        json.dumps(dict(zip(names, row)), separators=(",", ":"), default=_json_default)
        for row in df.collect()
    )
    parts = glob.glob(f"{out}/part-*.json" + (".gz" if compression else ""))
    got = []
    for p in parts:
        with _open_by_ext(p, "rb") as f:
            got += f.read().decode().splitlines()
    assert sorted(got) == want
    metas = glob.glob(f"{out}/part-*.meta")
    assert len(metas) == len(parts) == 3
    total = sum(json.load(open(m))["n_records"] for m in metas)
    assert total == json.load(open(f"{out}/_SUCCESS"))["n_records"] == 200

