"""Reference-parity tests for the A4/A5 conversion semantics (SURVEY §1).

The reference's contract (convertor/struct.go:4-28, convertor.go:137-141):
unknown JSON keys silently dropped; missing keys become zero values
("" / 0), never NULL; a type-mismatched record is skipped entirely; age
narrows to 8-bit. These tests feed adversarial inputs through the same
code path the queries use.
"""

from __future__ import annotations

import json
import os

import pytest

from json_parquet_convertor_spark import convert
from json_parquet_convertor_spark.sources.io import read_json


def _write(dirpath, name, obj_or_text):
    os.makedirs(dirpath, exist_ok=True)
    body = (
        obj_or_text
        if isinstance(obj_or_text, str)
        else json.dumps(obj_or_text, indent=1)
    )
    with open(os.path.join(dirpath, name), "w") as f:
        f.write(body)


def test_type_mismatch_record_is_skipped(spark, tmp_path):
    """json.Unmarshal error → whole record skipped (convertor.go:138-141)."""
    src = str(tmp_path / "bad")
    _write(src, "good.json", {"ID": "1", "name": "A", "nationality": "X", "age": 3})
    _write(src, "bad.json", {"ID": "2", "name": "B", "nationality": "Y", "age": "not-a-number"})
    df = read_json(spark, src, schema=convert.PERSON_JSON_SCHEMA)
    out = convert.person_to_parquet_df(df).collect()
    assert [r["id"] for r in out] == ["1"]


def test_unknown_keys_dropped(spark, tmp_path):
    """encoding/json ignores unknown keys (convertor.go:138)."""
    src = str(tmp_path / "extra")
    _write(
        src,
        "extra.json",
        {"ID": "9", "name": "Z", "nationality": "Q", "age": 5, "shoe_size": 44},
    )
    df = read_json(spark, src, schema=convert.PERSON_JSON_SCHEMA)
    assert df.columns == ["ID", "name", "nationality", "age"]
    assert df.count() == 1


def test_missing_keys_zero_filled_not_null(spark, tmp_path):
    """Non-pointer Go struct fields → zero values, and the parquet columns
    are required: '' and 0, never NULL (struct.go:4-17)."""
    src = str(tmp_path / "missing")
    _write(src, "partial.json", {"ID": "7"})
    df = read_json(spark, src, schema=convert.PERSON_JSON_SCHEMA)
    row = convert.person_to_parquet_df(df).collect()[0]
    assert row["id"] == "7"
    assert row["name"] == ""
    assert row["nationality"] == ""
    assert row["age"] == 0


def test_reference_golden_is_stale_and_fresh_conversion_diverges(spark, tmp_path):
    """The reference repo ships a STALE golden: sample_json/person2.json.parquet
    holds ("1234", "Jack", "CM", 22) while the checked-in person2.json reads
    ("1234", "Jon", "CM", 12) — the parquet predates the JSON's last edit
    (SURVEY §5; convertor/struct.go:20-28 is the mapping it was produced by).
    Pin that divergence: converting today's JSON must reproduce the JSON's
    values, NOT the stale golden's name/age."""
    import duckdb

    golden = duckdb.connect().execute(
        "SELECT ID, name, nationality, age "
        "FROM read_parquet('/root/reference/sample_json/person2.json.parquet')"
    ).fetchall()
    assert golden == [("1234", "Jack", "CM", 22)]  # the stale row, as shipped

    with open("/root/reference/sample_json/person2.json") as f:
        src_json = json.load(f)
    assert (src_json["name"], src_json["age"]) == ("Jon", 12)  # current JSON

    src = str(tmp_path / "p2")
    _write(src, "person2.json", src_json)
    df = read_json(spark, src, schema=convert.PERSON_JSON_SCHEMA)
    row = convert.person_to_parquet_df(df).collect()[0]
    assert (row["id"], row["name"], row["nationality"], row["age"]) == (
        "1234",
        "Jon",
        "CM",
        12,
    )


def test_age_narrows_to_tinyint(spark, tmp_path):
    """INT32/INT_8 annotation → readers see TINYINT (struct.go:16)."""
    src = str(tmp_path / "narrow")
    _write(src, "p.json", {"ID": "1", "name": "A", "nationality": "X", "age": 34})
    dst = str(tmp_path / "narrow_out")
    back = convert.json_to_parquet(spark, src, dst)
    assert dict(back.dtypes)["age"] == "tinyint"

    import duckdb

    con = duckdb.connect()
    cols = {
        r[0]: r[1]
        for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{dst}/*.parquet')"
        ).fetchall()
    }
    assert cols["age"] == "TINYINT"


def test_per_file_output_layout_matches_reference_convention(spark, tmp_path):
    """json_to_parquet_per_file writes one single parquet FILE per input
    JSON file named <key>.parquet — the reference's output convention
    (convertor/convertor.go:171, and the repo's own shipped
    sample_json/person2.json.parquet) — with content identical to the
    directory-style sink and readable file-by-file."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    convert.write_sample_json(src)

    back = convert.json_to_parquet_per_file(spark, src, out)

    produced = sorted(os.listdir(out))
    assert produced == [
        "person2.json.parquet",
        "person3.json.parquet",
        "person4.json.parquet",
    ], produced
    # each output is a standalone single-file parquet holding exactly its
    # input's converted row
    one = spark.read.parquet(os.path.join(out, "person2.json.parquet"))
    rows = one.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id"], r["name"], r["nationality"], r["age"]) == (
        "1234", "Jon", "CM", 12,
    )
    # the union of the per-file outputs equals the directory-sink result
    dir_out = str(tmp_path / "dir_out")
    expected = {
        (r["id"], r["name"], r["nationality"], r["age"])
        for r in convert.json_to_parquet(spark, src, dir_out).collect()
    }
    got = {
        (r["id"], r["name"], r["nationality"], r["age"])
        for r in back.select("id", "name", "nationality", "age").collect()
    }
    assert got == expected


def _spark_jobs(spark, group, call):
    """Run ``call()`` under job group ``group``; return its result and the
    number of Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _landing(dirpath, n):
    """``n`` one-object person files covering every conversion rule.
    Returns {output file name: expected row} for the valid inputs."""
    expected = {}
    for k in range(n):
        rec = {"ID": str(1000 + k), "name": f"p{k}", "nationality": "CM", "age": k}
        if k % 10 == 3:  # missing keys → zero values
            del rec["name"], rec["age"]
        elif k % 10 == 5:  # unknown keys → dropped
            rec.update(shoe_size=44, email=f"u{k}@example.org")
        elif k % 10 == 7:  # non-ASCII text survives byte-exact
            rec["name"] = ("Zoë", "Łukasz", "李雷", "Ñandú")[k // 10 % 4]
        if k % 10 == 9:  # type-mismatched age → the file is skipped
            rec["age"] = "forty"
        else:
            expected[f"person{k}.json.parquet"] = (
                rec["ID"], rec.get("name", ""), rec["nationality"], rec.get("age", 0)
            )
        _write(dirpath, f"person{k}.json", rec)
    return expected


def test_per_file_many_file_landing_one_job_one_file_per_input(spark, tmp_path):
    """A 40-file landing spread over several scan partitions converts in
    exactly one Spark job (no key shuffle, no read-back inference job)
    into one ``<file>.parquet`` per valid input holding exactly its row,
    under the reference's required output schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src, dst = str(tmp_path / "in"), str(tmp_path / "out")
    expected = _landing(src, 40)
    scan = read_json(spark, src, schema=convert.PERSON_JSON_SCHEMA)
    assert scan.rdd.getNumPartitions() > 1  # the premise under test

    back, jobs = _spark_jobs(
        spark, "convert-per-file",
        lambda: convert.json_to_parquet_per_file(spark, src, dst),
    )
    assert jobs == 1
    assert sorted(os.listdir(dst)) == sorted(expected)
    want_schema = pa.schema([
        pa.field("id", pa.string(), nullable=False),
        pa.field("name", pa.string(), nullable=False),
        pa.field("nationality", pa.string(), nullable=False),
        pa.field("age", pa.int8(), nullable=False),
    ])
    for name, row in expected.items():
        table = pq.read_table(os.path.join(dst, name))
        assert table.schema.equals(want_schema), (name, table.schema)
        assert [tuple(r.values()) for r in table.to_pylist()] == [row], name
    assert back.dtypes == [
        ("id", "string"), ("name", "string"),
        ("nationality", "string"), ("age", "tinyint"),
    ]
    assert sorted(tuple(r) for r in back.collect()) == sorted(expected.values())


def test_directory_sink_is_one_job(spark, tmp_path):
    """json_to_parquet reads its output back with the written schema, so
    the call is its write job alone."""
    src = convert.write_sample_json(str(tmp_path / "in"))
    back, jobs = _spark_jobs(
        spark, "convert-dir",
        lambda: convert.json_to_parquet(spark, src, str(tmp_path / "out")),
    )
    assert jobs == 1
    assert back.count() == 3


def test_all_malformed_landing_reads_back_empty(spark, tmp_path, monkeypatch):
    """A landing whose every record is malformed writes no file and reads
    back as an empty frame with the output schema, under either file
    policy: an empty prefix has nothing to quarantine."""
    src = str(tmp_path / "in")
    _write(src, "a.json", {"ID": "1", "age": "forty"})
    _write(src, "b.json", "{ not json")
    for policy in ("strict", "quarantine"):
        monkeypatch.setenv("JPC_FILE_POLICY", policy)
        dst = str(tmp_path / f"out_{policy}")
        back = convert.json_to_parquet_per_file(spark, src, dst)
        assert os.listdir(dst) == []
        assert back.columns == ["id", "name", "nationality", "age"]
        assert back.count() == 0


def test_quarantine_raises_when_every_output_file_is_damaged(
    spark, tmp_path, monkeypatch
):
    """Under JPC_FILE_POLICY=quarantine a reused prefix whose only files
    are damaged still raises: an all-quarantined table is broken, not
    empty."""
    src = str(tmp_path / "in")
    _write(src, "a.json", {"ID": "1", "age": "forty"})
    dst = str(tmp_path / "out")
    _write(dst, "foreign.parquet", "not parquet bytes")
    monkeypatch.setenv("JPC_FILE_POLICY", "quarantine")
    with pytest.warns(UserWarning, match="quarantined 1 file"):
        with pytest.raises(IOError, match="no readable parquet data files"):
            convert.json_to_parquet_per_file(spark, src, dst)


def test_per_file_raises_when_an_input_splits_into_several_parts(spark, tmp_path):
    """The one-part-file-per-input premise is checked in code, not by an
    ``assert`` that ``python -O`` strips: a writer that splits one input's
    rows (here ``maxRecordsPerFile=1`` on a two-record file) fails loudly
    instead of dropping a part."""
    src = str(tmp_path / "in")
    _write(src, "two.json", [{"ID": "1"}, {"ID": "2"}])
    key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "1")
    try:
        with pytest.raises(RuntimeError, match="one part file per input"):
            convert.json_to_parquet_per_file(spark, src, str(tmp_path / "out"))
    finally:
        spark.conf.unset(key)


def test_per_file_rejects_repeated_basenames_before_writing(spark, tmp_path):
    """Outputs are keyed by input basename, so a glob over two directories
    that both hold ``p.json`` fails the same way every time, before the
    write, leaving neither ``dst`` nor its staging directory behind."""
    for d in ("a", "b"):
        _write(str(tmp_path / "in" / d), "p.json", {"ID": d})
        _write(str(tmp_path / "in" / d), f"only_{d}.json", {"ID": d})
    dst = str(tmp_path / "out")
    with pytest.raises(ValueError, match=r"basenames repeat: \['p.json'\]"):
        convert.json_to_parquet_per_file(spark, str(tmp_path / "in" / "*"), dst)
    assert sorted(os.listdir(tmp_path)) == ["in"]
