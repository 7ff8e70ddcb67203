"""Native (wheel-free) reader for genuine Lance datasets.

Parity target: the reference opens its own ``test/test_data.lance``
via ``Dataset::open`` (rust/lib.rs:26-51), introspects the schema
through its type map (rust/types.rs:3-48), and scans record batches
(rust/scanner.rs).  These tests exercise the same surface against the
same dataset, plus the documented type-map edge policy.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from lance_duckdb_spark.sources import lance_native as ln
from lance_duckdb_spark.sources.datasource import register

REF = "/root/reference/test/test_data.lance"

EXPECTED = {
    "id": [1, 2, 3, 4, 5],
    "name": ["Alice", "Bob", "Charlie", "David", "Eve"],
    "age": [25, 30, 35, 40, 45],
    "score": [85.5, 92.0, 78.5, 88.0, 95.5],
}


def test_detects_native_vs_json_store(tmp_path):
    assert ln.is_native_dataset(REF)
    # this repo's own JSON-manifest store must NOT be detected native
    vdir = tmp_path / "ds" / "_versions"
    vdir.mkdir(parents=True)
    (vdir / "1.manifest").write_text("{}")
    assert not ln.is_native_dataset(str(tmp_path / "ds"))


def test_list_versions():
    assert ln.list_versions(REF) == [1]


def test_dml_refused_on_native_dataset(spark):
    """DML/maintenance verbs against a native-encoded (protobuf
    manifest) dataset must refuse up front with a clear message, not
    die in read_manifest with a raw JSONDecodeError (r9 advice)."""
    from lance_duckdb_spark.catalog import lance_sql
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    # on any other store these statements would really commit into REF
    assert ln.is_native_dataset(REF)
    stmts = [
        f"DELETE FROM '{REF}' WHERE id = 1",
        f"UPDATE '{REF}' SET age = 0 WHERE id = 1",
        f"MERGE INTO '{REF}' t USING (SELECT 1 AS id) s "
        f"ON t.id = s.id WHEN MATCHED THEN DELETE",
        f"VACUUM '{REF}'",
        f"OPTIMIZE '{REF}'",
    ]
    for stmt in stmts:
        with pytest.raises(LanceDatasetError, match="native-encoded"):
            lance_sql(spark, stmt)


def test_manifest_fields_match_reference_schema():
    man = ln.open_dataset(REF)
    assert man.version == 1
    assert [(f.name, f.logical_type) for f in man.fields] == [
        ("id", "int64"),
        ("name", "string"),
        ("age", "int64"),
        ("score", "double"),
    ]
    # rust/types.rs:20 maps LargeUtf8→"string"→Utf8; int64/double direct
    assert man.arrow_schema().types == [
        pa.int64(),
        pa.string(),
        pa.int64(),
        pa.float64(),
    ]


def test_manifest_fragments_and_writer():
    man = ln.open_dataset(REF)
    assert man.num_rows() == 5
    assert len(man.fragments) == 1
    df = man.fragments[0].files[0]
    assert df.path.endswith(".lance")
    assert (df.file_major, df.file_minor) == (2, 0)
    assert man.writer_library == "lance"


def test_read_dataset_values():
    t = ln.read_dataset(REF)
    assert t.to_pydict() == EXPECTED


def test_column_pruning_decodes_only_requested():
    t = ln.read_dataset(REF, columns=["name", "score"])
    assert t.column_names == ["name", "score"]
    assert t.to_pydict() == {
        "name": EXPECTED["name"],
        "score": EXPECTED["score"],
    }


def test_explicit_and_missing_version():
    assert ln.open_dataset(REF, version=1).version == 1
    with pytest.raises(ln.LanceNativeError):
        ln.open_dataset(REF, version=99)


# -- type-map edge policy (rust/types.rs:3-48) ------------------------------


@pytest.mark.parametrize(
    "logical,expected",
    [
        # direct mappings
        ("bool", pa.bool_()),
        ("int8", pa.int8()),
        ("int16", pa.int16()),
        ("int32", pa.int32()),
        ("int64", pa.int64()),
        ("float", pa.float32()),
        ("double", pa.float64()),
        ("utf8", pa.string()),
        ("string", pa.string()),  # reference: LargeUtf8 → "string"
        ("large_string", pa.string()),
        ("binary", pa.binary()),
        # unsigned policy: widen to the next lossless signed size;
        # uint64 → decimal(20,0), the only Spark type holding 2^64-1
        ("uint8", pa.int16()),
        ("uint16", pa.int32()),
        ("uint32", pa.int64()),
        ("uint64", pa.decimal128(20, 0)),
        # date policy: both arrow date flavors → calendar date
        ("date32", pa.date32()),
        ("date64", pa.date32()),
        # parameterized
        ("timestamp:us:-", pa.timestamp("us")),
        ("timestamp:ns:UTC", pa.timestamp("ns", "UTC")),
        ("decimal:128:10:2", pa.decimal128(10, 2)),
        ("fixed_size_list:float:64", pa.list_(pa.float32(), 64)),
    ],
)
def test_logical_type_map(logical, expected):
    assert ln.logical_to_arrow(logical) == expected


def test_unknown_logical_type_fails_loudly():
    with pytest.raises(ln.LanceNativeUnsupported):
        ln.logical_to_arrow("frobnicated_quaternion")


# -- Spark integration ------------------------------------------------------


def test_spark_reads_native_dataset(spark):
    register(spark)
    df = spark.read.format("lance").load(REF)
    rows = sorted(df.collect(), key=lambda r: r.id)
    assert [r.name for r in rows] == EXPECTED["name"]
    assert [r.age for r in rows] == EXPECTED["age"]
    assert df.schema["id"].dataType.simpleString() == "bigint"
    assert df.schema["score"].dataType.simpleString() == "double"


def test_spark_native_pruning_and_filter(spark):
    register(spark)
    df = (
        spark.read.format("lance")
        .load(REF)
        .where("age >= 35")
        .select("name", "score")
    )
    got = sorted((r.name, r.score) for r in df.collect())
    assert got == [("Charlie", 78.5), ("David", 88.0), ("Eve", 95.5)]


def test_spark_native_version_option(spark):
    register(spark)
    df = spark.read.format("lance").option("version", "1").load(REF)
    assert df.count() == 5


def test_spark_native_write_refused(spark):
    # on any other store this append would really commit into REF
    assert ln.is_native_dataset(REF)
    register(spark)
    df = spark.range(3)
    with pytest.raises(Exception, match="[Ll]ance proper|not supported"):
        df.write.format("lance").mode("append").save(REF)


# ------------------------------------------------------------------ #
# native WRITER (r4): lance_native_write.py                          #
# ------------------------------------------------------------------ #


def test_writer_byte_identical_to_reference_fixture(tmp_path):
    """Writing the fixture's exact table reproduces lance 0.32.1's
    data file BYTE FOR BYTE — buffers, 0x48 alignment padding,
    encoding protos, schema global buffer, offset tables, footer."""
    import pyarrow as pa

    from lance_duckdb_spark.sources import lance_native_write as lw

    t = pa.table(
        {
            "id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "name": pa.array(
                ["Alice", "Bob", "Charlie", "David", "Eve"], pa.string()
            ),
            "age": pa.array([25, 30, 35, 40, 45], pa.int64()),
            "score": pa.array([85.5, 92.0, 78.5, 88.0, 95.5], pa.float64()),
        }
    )
    t = t.cast(
        pa.schema(
            [
                pa.field(n, t.schema.field(n).type, nullable=False)
                for n in t.schema.names
            ]
        )
    )
    out = str(tmp_path / "out.lance")
    lw.write_data_file(t, out)
    ours = open(out, "rb").read()
    ref = open(
        os.path.join(
            REF, "data", "9c687b1c-075b-430c-8be1-672d2b959ad6.lance"
        ),
        "rb",
    ).read()
    assert ours == ref


def test_writer_reader_roundtrip_with_nulls(tmp_path):
    """All supported types, WITH nulls (validity-buffer extension),
    round-trip bit-exactly through write_dataset → read_dataset."""
    import pyarrow as pa

    from lance_duckdb_spark.sources import lance_native as ln
    from lance_duckdb_spark.sources import lance_native_write as lw

    t = pa.table(
        {
            "i32": pa.array([1, None, 3], pa.int32()),
            "i64": pa.array([10, 20, None], pa.int64()),
            "f": pa.array([1.5, None, 2.5], pa.float32()),
            "d": pa.array([2.25, 3.5, None], pa.float64()),
            "s": pa.array(["a", None, "ccc"], pa.string()),
            "b": pa.array([b"x", b"yy", None], pa.binary()),
            "bo": pa.array([True, None, False], pa.bool_()),
            "dt": pa.array([1, 2, None], pa.int32()).cast(pa.date32()),
            "ts": pa.array([1000, None, 3000], pa.int64()).cast(
                pa.timestamp("us")
            ),
            "emb": pa.array(
                [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]],
                pa.list_(pa.float32(), 2),
            ),
        }
    )
    root = str(tmp_path / "nulls.lance")
    lw.write_dataset(t, root)
    back = ln.read_dataset(root)
    assert back.equals(t)
    man = ln.open_dataset(root)
    assert man.writer_library == "lance_duckdb_spark"
    assert [f.nullable for f in man.fields][:4] == [True] * 4


def test_written_manifest_parses_like_reference(tmp_path):
    """The written protobuf manifest exposes the same structural
    surface as the reference fixture's: fields with ids/parents,
    fragments with data files + physical rows, version, storage
    format — all through the SAME parser that reads Lance proper."""
    import pyarrow as pa

    from lance_duckdb_spark.sources import lance_native as ln
    from lance_duckdb_spark.sources import lance_native_write as lw

    t = pa.table({"x": pa.array([1, 2], pa.int64())})
    root = str(tmp_path / "m.lance")
    lw.write_dataset(t, root)
    ours = ln.open_dataset(root)
    ref = ln.open_dataset(REF)
    assert type(ours) is type(ref)
    assert ours.version == 1
    assert [f.parent_id for f in ours.fields] == [-1]
    assert ours.fragments[0].files[0].file_major == 2
    assert ours.fragments[0].physical_rows == 2
    # size recorded in the manifest matches the file on disk
    df = ours.fragments[0].files[0]
    assert df.file_size_bytes == os.path.getsize(
        os.path.join(root, "data", df.path)
    )


def test_spark_distributed_native_write(spark, tmp_path):
    """write_native_dataset: one genuine fragment per partition
    (executor-side), one manifest commit; Spark reads it back via
    the same native scan path that reads Lance proper."""
    from pyspark.sql import functions as F

    from lance_duckdb_spark.sources import lance_native as ln
    from lance_duckdb_spark.sources.lance_native_write import (
        write_native_dataset,
    )

    register(spark)
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("row-"), F.col("id")).alias("tag"),
    ).repartition(5)
    root = str(tmp_path / "dist.lance")
    info = write_native_dataset(df, root)
    assert info["fragments"] == 5 and info["rows"] == 100
    assert ln.is_native_dataset(root)
    back = spark.read.format("lance").load(root)
    assert back.count() == 100
    assert (
        back.agg(F.sum("id").alias("s")).collect()[0]["s"] == 4950
    )
    got = {r["tag"] for r in back.select("tag").collect()}
    assert got == {f"row-{i}" for i in range(100)}


def test_fragment_deletion_file_detected_and_refused():
    """DataFragment.deletion_file (format.proto field 3) must be
    detected and make reads refuse — decoding the data files alone
    would resurrect deleted rows (r5 review finding)."""
    # fragment proto: id=7 (field 1 varint), deletion_file present
    # (field 3, length-delimited submessage), physical_rows=4
    # (field 4 varint)
    sub = b"\x08\x01"  # arbitrary submessage content
    buf = (
        b"\x08\x07"            # field 1 varint 7
        + b"\x1a" + bytes([len(sub)]) + sub  # field 3 LEN
        + b"\x20\x04"          # field 4 varint 4
    )
    frag = ln._parse_fragment(buf)
    assert frag.id == 7 and frag.physical_rows == 4
    assert frag.has_deletions

    man = ln.NativeManifest(fields=[], fragments=[frag], version=1)
    with pytest.raises(ln.LanceNativeUnsupported, match="deletion"):
        ln._refuse_deletions(man, "/x")

    # without field 3: no refusal
    frag2 = ln._parse_fragment(b"\x08\x07\x20\x04")
    assert not frag2.has_deletions
    ln._refuse_deletions(
        ln.NativeManifest(fields=[], fragments=[frag2], version=1), "/x"
    )


def test_native_writer_refuses_existing_dataset_and_fsl_string(tmp_path):
    """r5 review findings: writing version 1 into a root that already
    holds manifests would leave the old head serving; and a
    fixed_size_list<string> has offsets+bytes buffers that the flat
    fixed-width encoding declaration would misdescribe to real Lance
    readers."""
    import pyarrow as pa
    import pytest

    from lance_duckdb_spark.sources import lance_native_write as lw

    root = str(tmp_path / "ds")
    lw.write_dataset(pa.table({"x": [1, 2, 3]}), root)
    with pytest.raises(ln.LanceNativeUnsupported, match="already contains"):
        lw.write_dataset(pa.table({"x": [9]}), root)

    fsl = pa.FixedSizeListArray.from_arrays(
        pa.array(["a", "b", "c", "d"]), 2
    )
    with pytest.raises(ln.LanceNativeUnsupported, match="fixed_size_list"):
        lw.write_dataset(
            pa.table({"v": fsl}), str(tmp_path / "ds2")
        )


def test_widened_types_decode_at_physical_width():
    """uint8/16/32 pages are 1/2/4 bytes per row; the schema widens
    them (Spark has no unsigned) but the decoder must read the
    PHYSICAL width and cast — not misdiagnose the page as compressed
    (r8 review finding)."""
    import numpy as np
    import pyarrow as pa

    from lance_duckdb_spark.sources import lance_native as ln

    for np_t, phys, logical, widened in [
        (np.uint8, pa.uint8(), "uint8", pa.int16()),
        (np.uint16, pa.uint16(), "uint16", pa.int32()),
        (np.uint32, pa.uint32(), "uint32", pa.int64()),
        (np.uint64, pa.uint64(), "uint64", pa.decimal128(20, 0)),
    ]:
        vals = np.array([0, 1, np.iinfo(np_t).max], dtype=np_t)
        raw = vals.tobytes()
        page = ln._Page((0,), (len(raw),), len(vals))
        arr = ln._decode_page(raw, page, phys)
        assert arr.to_pylist() == vals.tolist()
        widened_arr = ln._cast_widened(
            pa.chunked_array([arr]), logical, widened
        )
        assert widened_arr.type == widened
        assert [int(v) for v in widened_arr.to_pylist()] == vals.tolist()


def test_date64_ms_casts_to_calendar_days():
    import pyarrow as pa
    import struct as _struct

    from lance_duckdb_spark.sources import lance_native as ln

    ms_per_day = 86_400_000
    # one day after epoch at noon, epoch, one day BEFORE epoch at noon
    vals = [ms_per_day + 43_200_000, 0, -ms_per_day + 43_200_000]
    raw = _struct.pack("<3q", *vals)
    page = ln._Page((0,), (len(raw),), 3)
    arr = ln._decode_page(raw, page, pa.int64())
    out = ln._cast_widened(
        pa.chunked_array([arr]), "date64", pa.date32()
    ).to_pylist()
    import datetime

    assert out == [
        datetime.date(1970, 1, 2),
        datetime.date(1970, 1, 1),
        datetime.date(1969, 12, 31),
    ]


def test_float16_pages_decode_plain():
    import numpy as np
    import pyarrow as pa

    from lance_duckdb_spark.sources import lance_native as ln

    vals = np.array([0.5, -2.0, 1.25], dtype=np.float16)
    raw = vals.tobytes()
    page = ln._Page((0,), (len(raw),), 3)
    arr = ln._decode_page(raw, page, pa.float16())
    assert np.array_equal(
        np.array(arr.to_pylist(), dtype=np.float16), vals
    )


def test_missing_column_raises_not_wrong_column(tmp_path, spark):
    """read_data_file with an unknown column name must raise, never
    silently decode the last column under the wrong name."""
    import pytest

    from lance_duckdb_spark.sources import lance_native as ln
    from lance_duckdb_spark.sources.datasource import register
    from lance_duckdb_spark.sources import lance_native_write as lw

    register(spark)
    root = str(tmp_path / "nat.lance")
    import pyarrow as pa

    table = pa.table({"a": pa.array([1, 2], pa.int64()),
                      "b": pa.array(["x", "y"], pa.string())})
    lw.write_dataset(table, root)
    with pytest.raises(ln.LanceNativeError, match="no column 'zzz'"):
        ln.read_dataset(root, columns=["zzz"])
