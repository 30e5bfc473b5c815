"""Compat-CLI tests: drive ``shmr_spark.compat.cli.main`` exactly the
way the reference's tests drive its CLI (main(argv) calls), against
(a) the committed synthetic people fixture (tests/resources, the
reference's people.csv layout), with goldens computed by the
pure-Python csv oracle ``people_rows``, and (b) synthetic ND-JSON
partitions.

The golden shapes follow the reference's tests (FIXTURES.md §A):
count, sum(age), map+sum ≡ reduce, --init_val, split residue
(age - i) % 5 == 0, coalesce(records_per_partition=50) file count, and
the whole-glob map.
"""

from __future__ import annotations

import json
import os

import pytest

from shmr_spark.compat.cli import main
from tests.conftest import PEOPLE, people_rows

CSV_ARGS = [
    "--skip_nrows", "1",
    "-d", "shmr_spark.compat.funcs.csv_loads",
    "-s", "shmr_spark.compat.funcs.csv_dumps",
]
P0 = f"{PEOPLE}/people.00.csv"


def _run(spark, argv):
    main(argv, spark=spark)


def _ages(pattern: str = "people.00.csv") -> list[int]:
    return [int(r[3]) for r in people_rows(pattern)]


def test_count_partition0_golden(spark, tmp_path):
    out = tmp_path / "cnt.txt"
    _run(spark, ["-i", P0, *CSV_ARGS, "partition.count", "--outfile", str(out)])
    assert out.read_text() == str(len(_ages()))


def test_map_sum_golden(spark, tmp_path):
    out = tmp_path / "ages.txt"
    _run(spark, ["-i", P0, *CSV_ARGS,
                 "-s", "shmr_spark.compat.funcs.str_dumps",
                 "partition.map", "--fn", "tests.cli_fixture_fns.get_age",
                 "--outfile", str(out)])
    ages = [int(x) for x in out.read_text().splitlines()]
    assert ages == _ages()
    # .meta sidecar parity
    assert json.loads((tmp_path / "ages.meta").read_text()) == {
        "n_records": len(ages)
    }


def test_reduce_golden_and_crosscheck(spark, tmp_path):
    out = tmp_path / "sum.json"
    # CSV deser in, JSON ser out: an int accumulator is not a CSV row
    # (the reference's own csv_dumps would reject it the same way)
    _run(spark, ["-i", P0, *CSV_ARGS,
                 "-s", "shmr_spark.compat.funcs.json_dumps",
                 "partition.reduce", "--fn", "tests.cli_fixture_fns.sum_age",
                 "--outfile", str(out)])
    assert json.loads(out.read_text().strip()) == sum(_ages())


def test_reduce_with_init_val(spark, tmp_path):
    out = tmp_path / "sum.json"
    _run(spark, ["-i", P0, *CSV_ARGS,
                 "-s", "shmr_spark.compat.funcs.json_dumps",
                 "partition.reduce", "--fn", "tests.cli_fixture_fns.sum_age",
                 "--outfile", str(out), "--init_val", "100"])
    assert json.loads(out.read_text().strip()) == 100 + sum(_ages())


def test_split_by_key_residue_golden(spark, tmp_path):
    out = tmp_path / "bucket.{auto}.csv"
    _run(spark, ["-i", P0, *CSV_ARGS,
                 "partition.split_by_key",
                 "--key_fn", "tests.cli_fixture_fns.age_key",
                 "--outfile", str(out), "--num_partitions", "5"])
    files = sorted(p for p in os.listdir(tmp_path) if p.endswith(".csv"))
    assert len(files) == len({a % 5 for a in _ages()})
    total = 0
    for i, name in enumerate(files):
        rows = (tmp_path / name).read_text().splitlines()
        total += len(rows)
        for row in rows:
            age = int(row.rsplit(",", 1)[1])
            assert (age - i) % 5 == 0
    assert total == len(_ages())


def test_coalesce_golden_file_count(spark, tmp_path):
    out = tmp_path / "chunk.{auto}.csv"
    _run(spark, ["-i", P0, *CSV_ARGS,
                 "partitions.coalesce", "--outfile", str(out),
                 "--records_per_partition", "50"])
    files = sorted(p for p in os.listdir(tmp_path) if p.endswith(".csv"))
    n = len(_ages())
    sizes = [len((tmp_path / f).read_text().splitlines()) for f in files]
    assert sizes == [50] * (n // 50) + ([n % 50] if n % 50 else [])


def test_glob_distributed_map(spark, tmp_path):
    """The Spark upgrade: one invocation over the whole glob replaces
    the reference's xargs loop — every row of every file in one run."""
    out = tmp_path / "all_ages.txt"
    _run(spark, ["-i", f"{PEOPLE}/people.*.csv", *CSV_ARGS,
                 "-s", "shmr_spark.compat.funcs.str_dumps",
                 "partition.map", "--fn", "tests.cli_fixture_fns.get_age",
                 "--outfile", str(out)])
    ages = [int(x) for x in out.read_text().splitlines()]
    assert sorted(ages) == sorted(_ages("people.*.csv"))


# -- ND-JSON synthetic partitions -----------------------------------------


@pytest.fixture()
def ndjson_parts(tmp_path):
    d = tmp_path / "parts"
    d.mkdir()
    rows = [{"k": i % 3, "v": i} for i in range(30)]
    for p in range(3):
        with open(d / f"data.{p:02d}.json", "w") as f:
            for r in rows[p * 10 : (p + 1) * 10]:
                f.write(json.dumps(r) + "\n")
    return d


def test_filter_and_meta(spark, ndjson_parts, tmp_path):
    out = tmp_path / "filtered.json"
    _run(spark, ["-i", str(ndjson_parts / "data.*.json"),
                 "partition.filter", "--fn", "tests.cli_fixture_fns.by_k",
                 "--outfile", str(out)])
    kept = [json.loads(x) for x in out.read_text().splitlines()]
    assert all(r["k"] != 0 for r in kept)
    assert len(kept) == 20


def test_flat_map(spark, ndjson_parts, tmp_path):
    out = tmp_path / "doubled.json"
    _run(spark, ["-i", str(ndjson_parts / "data.00.json"),
                 "partition.flat_map", "--fn", "tests.cli_fixture_fns.dup_twice",
                 "--outfile", str(out)])
    assert len(out.read_text().splitlines()) == 20


def test_distinct_first_occurrence(spark, ndjson_parts, tmp_path):
    out = tmp_path / "uniq.json"
    _run(spark, ["-i", str(ndjson_parts / "data.*.json"),
                 "partition.distinct", "--key_fn", "tests.cli_fixture_fns.by_k",
                 "--outfile", str(out)])
    rows = [json.loads(x) for x in out.read_text().splitlines()]
    assert sorted(r["k"] for r in rows) == [0, 1, 2]
    # first occurrence in glob order: v == 0,1,2 (the first three rows)
    assert sorted(r["v"] for r in rows) == [0, 1, 2]


def test_reduce_by_key(spark, ndjson_parts, tmp_path):
    out = tmp_path / "by_k.json"
    _run(spark, ["-i", str(ndjson_parts / "data.*.json"),
                 "partition.reduce_by_key",
                 "--key_fn", "tests.cli_fixture_fns.by_k",
                 "--fn", "tests.cli_fixture_fns.count_by_k",
                 "--outfile", str(out)])
    rows = [json.loads(x) for x in out.read_text().splitlines()]
    assert {r["k"]: r["n"] for r in rows} == {0: 10, 1: 10, 2: 10}


def test_join_grouped_output(spark, ndjson_parts, tmp_path):
    left = tmp_path / "left.json"
    with open(left, "w") as f:
        f.write(json.dumps({"k": 1, "side": "L"}) + "\n")
        f.write(json.dumps({"k": 9, "side": "L-unmatched"}) + "\n")
    out = tmp_path / "joined.json"
    _run(spark, ["-i", str(left),
                 "partition.join",
                 "--key_fn", "tests.cli_fixture_fns.by_k",
                 "--outfile", str(out),
                 "--partition", str(ndjson_parts / "data.*.json"),
                 "--partition_key_fn", "tests.cli_fixture_fns.by_k"])
    rows = [json.loads(x) for x in out.read_text().splitlines()]
    assert len(rows) == 1  # k=9 has no right matches → dropped (inner)
    rec = rows[0]
    assert rec[0] == {"k": 1, "side": "L"}
    assert len(rec) == 1 + 10  # left + its 10 right matches


def test_concat_and_head(spark, ndjson_parts, tmp_path, capsys):
    out = tmp_path / "all.json"
    _run(spark, ["-i", str(ndjson_parts / "data.*.json"),
                 "partitions.concat", "--outfile", str(out)])
    assert len(out.read_text().splitlines()) == 30
    _run(spark, ["-i", str(out), "partitions.head", "--n", "4"])
    assert len(capsys.readouterr().out.splitlines()) == 4


def test_gzip_write_roundtrip(spark, ndjson_parts, tmp_path):
    out = tmp_path / "z.json.gz"
    _run(spark, ["-i", str(ndjson_parts / "data.*.json"),
                 "partitions.concat", "--outfile", str(out)])
    import gzip

    with gzip.open(out, "rt") as f:
        assert len(f.read().splitlines()) == 30
    # and read back through the CLI (Spark decompresses by extension)
    out2 = tmp_path / "back.json"
    _run(spark, ["-i", str(out), "partitions.concat", "--outfile", str(out2)])
    assert len(out2.read_text().splitlines()) == 30
