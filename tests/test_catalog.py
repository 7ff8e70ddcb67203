"""catalog.py: view registration (the DDL-gap stand-in) and
replacement-scan SQL sugar (cpp/lance_replacement.cpp parity)."""

from __future__ import annotations

import os

import pytest

from lance_duckdb_spark.catalog import lance_sql, register_lance_views
from lance_duckdb_spark.sources import datasource as ds
from lance_duckdb_spark.tables import load


@pytest.fixture(scope="module")
def lance_db(spark, sf_dir, tmp_path_factory):
    """A directory of two lance datasets, like an attached database."""
    root = str(tmp_path_factory.mktemp("lance_db"))
    ds.register(spark)
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    nation.write.format("lance").mode("overwrite").save(f"{root}/nation.lance")
    region.write.format("lance").mode("overwrite").save(f"{root}/region.lance")
    return root


def test_register_lance_views_full_sql_surface(spark, sf_dir, lance_db):
    views = register_lance_views(spark, lance_db)
    assert views == {
        "nation": f"{lance_db}/nation.lance",
        "region": f"{lance_db}/region.lance",
    }
    got = spark.sql(
        "SELECT r.r_name, COUNT(*) AS n FROM nation n "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "GROUP BY r.r_name ORDER BY r.r_name"
    ).collect()
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    expect = (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .count()
        .orderBy("r_name")
        .collect()
    )
    assert [(r.r_name, r.n) for r in got] == [
        (r.r_name, r["count"]) for r in expect
    ]


def test_register_single_dataset_and_version_pin(spark, sf_dir, tmp_path):
    ds.register(spark)
    path = str(tmp_path / "grow.lance")
    nation = load(spark, sf_dir, "nation")
    nation.limit(5).write.format("lance").mode("overwrite").save(path)
    nation.limit(3).write.format("lance").mode("append").save(path)
    assert register_lance_views(spark, path) == {"grow": path}
    assert spark.sql("SELECT COUNT(*) AS n FROM grow").first().n == 8
    register_lance_views(spark, path, version=1)
    assert spark.sql("SELECT COUNT(*) AS n FROM grow").first().n == 5


def test_lance_sql_replacement_scan(spark, lance_db):
    path = f"{lance_db}/nation.lance"
    n = lance_sql(spark, f"SELECT COUNT(*) AS n FROM '{path}'").first().n
    assert n == 25
    # join two path literals, mixed quote styles
    row = lance_sql(
        spark,
        f'SELECT COUNT(*) AS n FROM "{path}" x '
        f"JOIN '{lance_db}/region.lance' r "
        "ON x.n_regionkey = r.r_regionkey",
    ).first()
    assert row.n == 25


def test_lance_sql_leaves_non_dataset_literals_alone(spark, lance_db):
    # a .lance literal that is NOT a dataset on disk stays a string
    row = lance_sql(
        spark,
        f"SELECT 'not/a/real.lance' AS s, COUNT(*) AS n "
        f"FROM '{lance_db}/nation.lance'",
    ).first()
    assert row.s == "not/a/real.lance"
    assert row.n == 25


def test_lance_sql_rewrites_only_table_position(spark, lance_db):
    # an EXISTING dataset path used as string DATA (non-FROM/JOIN
    # position) must stay a literal — only table position rewrites
    path = f"{lance_db}/nation.lance"
    row = lance_sql(
        spark,
        f"SELECT COUNT(*) AS n FROM '{path}' WHERE '{path}' = '{path}'",
    ).first()
    assert row.n == 25


def test_view_name_collision_raises(spark, lance_db, tmp_path, sf_dir):
    root = str(tmp_path / "db2")
    os.makedirs(root)
    nation = load(spark, sf_dir, "nation")
    nation.write.format("lance").mode("overwrite").save(f"{root}/t.lance")
    nation.write.format("lance").mode("overwrite").save(f"{root}/t")
    with pytest.raises(ValueError, match="collision"):
        register_lance_views(spark, root)


def test_per_view_version_mapping_and_unaligned_guard(spark, sf_dir, tmp_path):
    """Datasets version independently: one numeric pin over an
    unaligned directory must raise instead of serving a mismatched
    snapshot; a per-view mapping pins each table on its own history
    (r4 ADVICE)."""
    from lance_duckdb_spark.sources import lance_format as lf

    ds.register(spark)
    root = str(tmp_path / "db")
    os.makedirs(root)
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    nation.limit(5).write.format("lance").mode("overwrite").save(
        f"{root}/nation.lance"
    )
    nation.limit(3).write.format("lance").mode("append").save(
        f"{root}/nation.lance"
    )  # nation: versions [1, 2]
    region.write.format("lance").mode("overwrite").save(
        f"{root}/region.lance"
    )  # region: versions [1]

    with pytest.raises(lf.LanceDatasetError, match="independent"):
        register_lance_views(spark, root, version=2)

    register_lance_views(spark, root, version={"nation": 1})
    assert spark.sql("SELECT COUNT(*) AS n FROM nation").first().n == 5
    # unlisted view reads latest
    assert spark.sql("SELECT COUNT(*) AS n FROM region").first().n == 5


def test_lance_sql_auto_narrows_projection(spark, lance_db):
    """A single-column SELECT over a replacement-scanned dataset must
    scan ONLY that column (the auto-narrow closing of the Python DS
    API's missing projection pushdown): the scan's ReadSchema /
    output attributes carry just the referenced columns, and results
    are unchanged."""
    df = lance_sql(
        spark, f"SELECT n_name FROM '{lance_db}/nation.lance' ORDER BY n_name"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("Scan") :].splitlines()[0]
    assert "n_name" in scan
    assert "n_regionkey" not in scan and "n_nationkey" not in scan
    names = [r.n_name for r in df.collect()]
    assert len(names) == 25 and names == sorted(names)

    # two queries over the same dataset in one session must not leak
    # narrowing into each other (view name encodes the column set)
    df2 = lance_sql(
        spark,
        f"SELECT n_regionkey, COUNT(*) AS n FROM '{lance_db}/nation.lance' "
        "GROUP BY n_regionkey",
    )
    assert df2.count() == 5
    # SELECT * still reads everything
    df3 = lance_sql(spark, f"SELECT * FROM '{lance_db}/nation.lance'")
    assert len(df3.columns) == 3  # full nation schema


def test_version_mapping_rejects_unknown_views_and_bad_versions(
    spark, lance_db
):
    from lance_duckdb_spark.sources import lance_format as lf

    with pytest.raises(lf.LanceDatasetError, match="unknown views"):
        register_lance_views(spark, lance_db, version={"natoin": 1})
    with pytest.raises(lf.LanceDatasetError, match="no version"):
        register_lance_views(spark, lance_db, version={"nation": 99})


def test_auto_narrow_keeps_backtick_and_digit_led_identifiers(
    spark, tmp_path
):
    """Legal-but-unusual column names (digit-led, referenced via
    backticks) must never be dropped from the narrowed scan schema
    (review finding r5)."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "odd.lance")
    spark.range(3).select(
        F.col("id").alias("2024_rev"), (F.col("id") * 2).alias("doc")
    ).write.format("lance").mode("overwrite").save(root)
    df = lance_sql(spark, f"SELECT `2024_rev` FROM '{root}' ORDER BY `2024_rev`")
    assert [r["2024_rev"] for r in df.collect()] == [0, 1, 2]


def test_natural_join_disables_narrowing(spark, tmp_path):
    """NATURAL JOIN references every common column WITHOUT naming it
    in the query text — identifier-based narrowing would drop the
    unnamed join key from both scans, silently degrading the join to
    a cross product (r5 ADVICE). The NATURAL keyword must disable
    narrowing entirely."""
    from pyspark.sql import functions as F

    a = str(tmp_path / "nat_a.lance")
    b = str(tmp_path / "nat_b.lance")
    spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("left_val")
    ).write.format("lance").mode("overwrite").save(a)
    spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("right_val")
    ).write.format("lance").mode("overwrite").save(b)
    df = lance_sql(
        spark,
        f"SELECT left_val, right_val FROM '{a}' NATURAL JOIN '{b}' "
        "ORDER BY left_val",
    )
    rows = [(r.left_val, r.right_val) for r in df.collect()]
    # joined on the unnamed common column k: 4 rows, not 16
    assert rows == [(i * 10, i * 100) for i in range(4)]


def test_lance_sql_copy_to_and_ctas(spark, tmp_path):
    """SQL write-path sugar (reference cpp/lance_copy.cpp): COPY TO
    writes a dataset (default overwrite), MODE 'append' adds a
    version, CTAS refuses an existing target without OR REPLACE, and
    bad options are refused loudly."""
    from pyspark.sql import functions as F

    from lance_duckdb_spark.sources import lance_format as lf

    src = str(tmp_path / "copy_src.lance")
    dst = str(tmp_path / "copy_dst.lance")
    spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.format("lance").mode("overwrite").save(src)

    out = lance_sql(spark, f"COPY (SELECT k, v FROM '{src}' WHERE k < 6) TO '{dst}' (FORMAT LANCE)")
    assert out.first().rows_copied == 6
    out2 = lance_sql(
        spark,
        f"COPY (SELECT k, v FROM '{src}' WHERE k >= 6) TO '{dst}' "
        "(FORMAT LANCE, MODE 'append')",
    )
    assert out2.first().rows_copied == 4
    back = lance_sql(spark, f"SELECT SUM(v) AS s, COUNT(*) AS n FROM '{dst}'").first()
    assert (back.s, back.n) == (90, 10)
    # overwrite (the default) replaces, not appends
    lance_sql(spark, f"COPY (SELECT k, v FROM '{src}' WHERE k = 0) TO '{dst}'")
    assert lance_sql(spark, f"SELECT COUNT(*) AS n FROM '{dst}'").first().n == 1

    # CTAS: refuses existing target; OR REPLACE overwrites
    with pytest.raises(lf.LanceDatasetError, match="already exists"):
        lance_sql(spark, f"CREATE TABLE '{dst}' AS SELECT k FROM '{src}'")
    made = lance_sql(
        spark, f"CREATE OR REPLACE TABLE '{dst}' AS SELECT k FROM '{src}' WHERE k < 3"
    )
    assert made.first().rows_copied == 3
    ct2 = str(tmp_path / "ctas_new.lance")
    lance_sql(spark, f"CREATE TABLE '{ct2}' AS SELECT k FROM '{src}'")
    assert lance_sql(spark, f"SELECT COUNT(*) AS n FROM '{ct2}'").first().n == 10

    # loud option errors
    with pytest.raises(lf.LanceDatasetError, match="FORMAT LANCE"):
        lance_sql(spark, f"COPY (SELECT k FROM '{src}') TO '{dst}' (FORMAT parquet)")
    with pytest.raises(lf.LanceDatasetError, match="unknown COPY option"):
        lance_sql(spark, f"COPY (SELECT k FROM '{src}') TO '{dst}' (FROBNICATE 1)")
    with pytest.raises(lf.LanceDatasetError, match="MODE"):
        lance_sql(spark, f"COPY (SELECT k FROM '{src}') TO '{dst}' (MODE 'sideways')")


def test_lance_load_narrows_scan_schema(spark, lance_db):
    """lance_load(columns=[...]) must plan a scan whose ReadSchema is
    exactly the requested columns — the DataFrame-API twin of
    lance_sql's auto-narrowing (the Python DS API has no projection
    pushdown, so narrowing is done at the scan-schema level)."""
    from lance_duckdb_spark.catalog import lance_load
    from lance_duckdb_spark.sources import lance_format as lf

    df = lance_load(spark, f"{lance_db}/nation.lance", columns=["n_name"])
    assert df.columns == ["n_name"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("Scan") :].splitlines()[0]
    assert "n_name" in scan
    assert "n_regionkey" not in scan and "n_nationkey" not in scan
    names = sorted(r.n_name for r in df.collect())
    assert len(names) == 25 and names == sorted(names)

    # full read without columns; loud refusal of typos
    assert len(lance_load(spark, f"{lance_db}/nation.lance").columns) == 3
    with pytest.raises(lf.LanceDatasetError, match="unknown columns"):
        lance_load(spark, f"{lance_db}/nation.lance", columns=["n_nam"])


def test_copy_options_quote_aware_and_codec_validation(spark, tmp_path):
    """r6 ADVICE: the option parser must tokenize quote-aware (a
    quoted value containing a comma is one value) and refuse unknown
    codecs at parse time, not at the first executor write."""
    from lance_duckdb_spark.catalog import _copy_options
    from lance_duckdb_spark.sources import lance_format as lf

    ds.register(spark)  # standalone-safe: don't rely on test order
    assert _copy_options("FORMAT LANCE, MODE 'append'") == {"mode": "append"}
    assert _copy_options("COMPRESSION 'zstd'") == {"compression": "zstd"}
    # a quoted comma must not split the token — parses as ONE (bad)
    # mode value and is refused as such, not as two broken tokens
    with pytest.raises(lf.LanceDatasetError, match="MODE"):
        _copy_options("MODE 'app,end'")
    with pytest.raises(lf.LanceDatasetError, match="codec"):
        _copy_options("COMPRESSION 'sznappy'")
    with pytest.raises(lf.LanceDatasetError, match="unbalanced"):
        _copy_options("MODE 'append")
    # end-to-end: typo'd codec fails the statement before any write
    src = str(tmp_path / "codec_src.lance")
    spark.range(3).write.format("lance").mode("overwrite").save(src)
    dst = str(tmp_path / "codec_dst.lance")
    with pytest.raises(lf.LanceDatasetError, match="codec"):
        lance_sql(
            spark,
            f"COPY (SELECT id FROM '{src}') TO '{dst}' "
            "(FORMAT LANCE, COMPRESSION 'lzo')",
        )
    assert not os.path.isdir(dst)


def test_use_lance_warehouse_refreshes_on_version_bump(spark, sf_dir, tmp_path):
    """use_lance_warehouse: temp views snapshot the fragment list at
    registration, so a bumped dataset version MUST be re-registered
    for the view to serve it — wh.sql() does that transparently,
    plus picks up brand-new datasets and drops vanished ones."""
    import shutil

    from lance_duckdb_spark.catalog import use_lance_warehouse

    ds.register(spark)  # standalone-safe: don't rely on test order
    root = str(tmp_path / "wh")
    os.makedirs(root)
    spark.range(3).write.format("lance").mode("overwrite").save(
        f"{root}/a.lance"
    )
    wh = use_lance_warehouse(spark, root)
    assert wh.views() == {"a": f"{root}/a.lance"}
    assert wh.sql("SELECT COUNT(*) AS n FROM a").first().n == 3

    # version bump: a plain spark.sql over the stale view misses the
    # append; wh.sql refreshes and sees it
    spark.range(5).write.format("lance").mode("append").save(f"{root}/a.lance")
    assert spark.sql("SELECT COUNT(*) AS n FROM a").first().n == 3
    assert wh.sql("SELECT COUNT(*) AS n FROM a").first().n == 8

    # steady state: no change -> no re-registration
    assert wh.refresh() == {}

    # new dataset appears
    spark.range(2).write.format("lance").mode("overwrite").save(
        f"{root}/b.lance"
    )
    got = wh.sql("SELECT (SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b) AS n")
    assert got.first().n == 10
    assert set(wh.views()) == {"a", "b"}

    # dataset vanishes -> view dropped
    shutil.rmtree(f"{root}/b.lance")
    wh.refresh()
    assert set(wh.views()) == {"a"}
    assert "b" not in [t.name for t in spark.catalog.listTables()]


def test_distinct_from_literal_is_not_a_table_ref(spark, lance_db):
    """`IS DISTINCT FROM '<path>.lance'` uses FROM as an operator
    keyword — the literal is data, not a table position, and must
    not be rewritten (r8 review finding)."""
    from lance_duckdb_spark.catalog import lance_sql

    path = f"{lance_db}/nation.lance"
    out = lance_sql(
        spark,
        f"SELECT n_name FROM '{path}' "
        f"WHERE n_name IS DISTINCT FROM '{path}' ORDER BY n_name",
    ).collect()
    # the query must ANALYZE (pre-fix the literal was rewritten into
    # an unresolvable view name) and keep every row, since all nation
    # names differ from the path literal
    total = lance_sql(
        spark, f"SELECT COUNT(*) AS n FROM '{path}'"
    ).first()["n"]
    assert len(out) == total > 0


def test_distinct_from_guard_survives_any_whitespace(spark, lance_db):
    """The operator-keyword guard must hold across double spaces,
    tabs and newlines between DISTINCT and FROM (r9 advice: the old
    fixed-width lookbehind guarded exactly one space)."""
    from lance_duckdb_spark.catalog import lance_sql

    path = f"{lance_db}/nation.lance"
    for ws in ["  ", "\t", "\n", " \n\t "]:
        out = lance_sql(
            spark,
            f"SELECT n_name FROM '{path}' "
            f"WHERE n_name IS NOT DISTINCT{ws}FROM 'x.lance'",
        ).collect()
        # no nation name equals the literal -> zero rows, and the
        # statement ANALYZES (pre-fix: rewritten into a temp view
        # reference and failed analysis)
        assert out == []


# ------------------------------------------------------------ MERGE


@pytest.fixture()
def merge_tgt(spark, sf_dir, tmp_path):
    """A fresh nation-backed merge target per test."""
    root = str(tmp_path / "tgt.lance")
    ds.register(spark)
    load(spark, sf_dir, "nation").write.format("lance").mode(
        "overwrite"
    ).save(root)
    return root


def _state(spark, root):
    return {
        r["n_nationkey"]: (r["n_name"], r["n_regionkey"])
        for r in spark.read.format("lance").load(root).collect()
    }


def test_merge_update_and_insert(spark, sf_dir, merge_tgt):
    """UPDATE SET * + INSERT * == the key-set-replace upsert, driven
    purely through the SQL surface (source subquery reads the target
    path itself via the replacement scan)."""
    before = _state(spark, merge_tgt)
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey, upper(n_name) AS n_name, n_regionkey"
        f"  FROM '{merge_tgt}' WHERE n_nationkey % 2 = 0"
        f"  UNION ALL"
        f"  SELECT CAST(n_nationkey + 100 AS INT), n_name, n_regionkey"
        f"  FROM '{merge_tgt}' WHERE n_nationkey < 3"
        f") s ON t.n_nationkey = s.n_nationkey"
        f" WHEN MATCHED THEN UPDATE SET *"
        f" WHEN NOT MATCHED THEN INSERT *",
    ).collect()
    n_even = sum(1 for k in before if k % 2 == 0)
    assert [tuple(out[0])] == [(n_even, 3, 0)]
    after = _state(spark, merge_tgt)
    assert len(after) == len(before) + 3
    for k, (name, reg) in before.items():
        want = (name.upper(), reg) if k % 2 == 0 else (name, reg)
        assert after[k] == want
    for k in [0, 1, 2]:
        assert after[k + 100] == before[k]


def test_merge_insert_column_list_values(spark, sf_dir, merge_tgt):
    """INSERT (col, ...) VALUES (expr, ...) — r11: unassigned
    columns null-fill, VALUES are full Spark SQL over the source
    alias, first-match-wins across multiple NOT MATCHED clauses,
    and a source row no insert clause accepts inserts nothing."""
    before = _state(spark, merge_tgt)
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT CAST(k AS INT) AS k, nm FROM VALUES"
        f"    (201, 'alpha'), (202, 'beta'), (203, 'gamma')"
        f"    AS v(k, nm)"
        f") s ON t.n_nationkey = s.k "
        # clause 1 takes 201 only; clause 2 takes 202; 203 matches
        # neither condition and must NOT insert
        f"WHEN NOT MATCHED AND s.nm = 'alpha' THEN "
        f"INSERT (n_nationkey, n_name, n_regionkey) "
        f"VALUES (s.k, upper(s.nm), CAST(0 AS INT)) "
        f"WHEN NOT MATCHED AND s.k = 202 THEN "
        f"INSERT (n_nationkey, n_name) VALUES (s.k, concat(s.nm, '?'))",
    ).collect()
    assert [tuple(out[0])] == [(0, 2, 0)]
    after = _state(spark, merge_tgt)
    assert len(after) == len(before) + 2
    assert after[201] == ("ALPHA", 0)
    assert after[202] == ("beta?", None)  # n_regionkey null-fills
    assert 203 not in after
    # the column-list form does NOT require the source to carry the
    # full dataset schema (INSERT * would refuse this source)
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    with pytest.raises(LanceDatasetError, match="missing"):
        lance_sql(
            spark,
            f"MERGE INTO '{merge_tgt}' t USING (SELECT CAST(300 AS "
            f"INT) AS k) s ON t.n_nationkey = s.k "
            f"WHEN NOT MATCHED THEN INSERT *",
        )
    # type discipline: a VALUES expression may not retype a column
    with pytest.raises(LanceDatasetError, match="changes column types"):
        lance_sql(
            spark,
            f"MERGE INTO '{merge_tgt}' t USING (SELECT CAST(300 AS "
            f"INT) AS k) s ON t.n_nationkey = s.k "
            f"WHEN NOT MATCHED THEN INSERT (n_nationkey, n_regionkey) "
            f"VALUES (s.k, 'not-an-int')",
        )


def test_merge_update_only_and_insert_only(spark, sf_dir, merge_tgt):
    before = _state(spark, merge_tgt)
    src = (
        f"SELECT n_nationkey, upper(n_name) AS n_name, n_regionkey "
        f"FROM '{merge_tgt}' WHERE n_nationkey IN (1, 2) "
        f"UNION ALL SELECT CAST(777 AS INT), 'NEWLAND', CAST(0 AS INT)"
    )
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ({src}) s "
        f"ON t.n_nationkey = s.n_nationkey "
        f"WHEN MATCHED THEN UPDATE SET *",
    ).collect()
    assert [tuple(out[0])] == [(2, 0, 0)]
    after = _state(spark, merge_tgt)
    assert 777 not in after  # update-only never inserts
    assert after[1][0] == before[1][0].upper()
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ({src}) s "
        f"ON t.n_nationkey = s.n_nationkey "
        f"WHEN NOT MATCHED THEN INSERT *",
    ).collect()
    assert [tuple(out[0])] == [(0, 1, 0)]
    after2 = _state(spark, merge_tgt)
    assert after2[777] == ("NEWLAND", 0)
    assert after2[2] == after[2]  # insert-only never updates


def test_merge_delete_and_delete_insert(spark, sf_dir, merge_tgt):
    before = _state(spark, merge_tgt)
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey FROM '{merge_tgt}' WHERE n_nationkey < 5"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN MATCHED THEN DELETE",
    ).collect()
    assert [tuple(out[0])] == [(0, 0, 5)]
    after = _state(spark, merge_tgt)
    assert set(after) == {k for k in before if k >= 5}
    # DELETE + INSERT: matched keys drop, unmatched source rows land;
    # source rows classify against the PRE-merge state
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey, n_name, n_regionkey"
        f"  FROM '{merge_tgt}' WHERE n_nationkey BETWEEN 5 AND 6"
        f"  UNION ALL SELECT CAST(888 AS INT), 'ATLANTIS', CAST(1 AS INT)"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN MATCHED THEN DELETE "
        f"WHEN NOT MATCHED THEN INSERT *",
    ).collect()
    assert [tuple(out[0])] == [(0, 1, 2)]
    final = _state(spark, merge_tgt)
    assert 5 not in final and 6 not in final
    assert final[888] == ("ATLANTIS", 1)


def test_merge_delete_only_lowers_to_deletion_vectors(
    spark, sf_dir, merge_tgt
):
    """A MERGE whose every action is DELETE must mask rows with
    per-fragment deletion files (one new version, O(matches)
    metadata) — never rewrite surviving fragment bytes. Pins the
    r10 lowering in maintenance.merge_apply."""
    from lance_duckdb_spark.sources import lance_format as lf

    before_m = lf.read_manifest(merge_tgt)
    before_files = [f.file for f in before_m.fragments]
    before = _state(spark, merge_tgt)
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey FROM '{merge_tgt}' WHERE n_nationkey < 4"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN MATCHED THEN DELETE",
    ).collect()
    assert [tuple(out[0])] == [(0, 0, 4)]
    after_m = lf.read_manifest(merge_tgt)
    # the data files are untouched — only deletion files were added
    assert [f.file for f in after_m.fragments] == before_files
    assert any(f.deletion_file is not None for f in after_m.fragments)
    assert after_m.version == before_m.version + 1
    assert set(_state(spark, merge_tgt)) == {
        k for k in before if k >= 4
    }
    # sync-only (NOT MATCHED BY SOURCE DELETE) takes the same path
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey FROM '{merge_tgt}' WHERE n_nationkey < 10"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN NOT MATCHED BY SOURCE THEN DELETE",
    ).collect()
    n_tail = len([k for k in before if k >= 10])
    assert [tuple(out[0])] == [(0, 0, n_tail)]
    final_m = lf.read_manifest(merge_tgt)
    assert [f.file for f in final_m.fragments] == before_files
    assert set(_state(spark, merge_tgt)) == {
        k for k in before if 4 <= k < 10
    }


def test_merge_alias_key_rename_and_lance_source(spark, sf_dir, tmp_path, merge_tgt):
    """USING '<path>.lance' source + differently-named join columns."""
    src_root = str(tmp_path / "src.lance")
    spark.sql(
        "SELECT CAST(999 AS INT) AS k, 'OZ' AS n_name, "
        "CAST(2 AS INT) AS n_regionkey"
    ).write.format("lance").mode("overwrite").save(src_root)
    with pytest.raises(Exception, match="already has a column"):
        lance_sql(
            spark,
            f"MERGE INTO '{merge_tgt}' t USING '{src_root}' s "
            f"ON t.n_regionkey = s.k "
            f"WHEN NOT MATCHED THEN INSERT *",
        )
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING '{src_root}' s "
        f"ON t.n_nationkey = s.k "
        f"WHEN NOT MATCHED THEN INSERT *",
    ).collect()
    assert [tuple(out[0])] == [(0, 1, 0)]
    assert _state(spark, merge_tgt)[999] == ("OZ", 2)


def test_merge_refusals(spark, merge_tgt):
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    cases = [
        # BY SOURCE has no source row: no INSERT, no SET * replace
        ("WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *",
         "no source row exists to replace"),
        ("WHEN NOT MATCHED BY SOURCE THEN INSERT *", "cannot INSERT"),
        ("WHEN NOT MATCHED BY SOURCE THEN INSERT (n_name) "
         "VALUES ('x')", "cannot INSERT"),
        # a clause after an unconditional clause of the same kind can
        # never apply — first match wins (dead-clause refusal)
        ("WHEN MATCHED THEN UPDATE SET * WHEN MATCHED THEN DELETE",
         "unreachable"),
        ("WHEN MATCHED THEN UPDATE SET * WHEN MATCHED THEN UPDATE SET *",
         "duplicate"),
        # NOT MATCHED has no target row: no DELETE, no UPDATE
        ("WHEN NOT MATCHED THEN DELETE", "cannot DELETE"),
        ("WHEN NOT MATCHED THEN UPDATE SET *", "cannot UPDATE"),
        # MATCHED cannot insert
        ("WHEN MATCHED THEN INSERT *", "cannot INSERT"),
        ("WHEN MATCHED THEN INSERT (n_nationkey) VALUES (1)",
         "cannot INSERT"),
        # SET may only assign target-alias columns
        ("WHEN MATCHED THEN UPDATE SET s.n_name = 'x'",
         "only the target alias"),
        # NOT MATCHED conditions see no target row
        ("WHEN NOT MATCHED AND t.n_regionkey = 1 THEN INSERT *",
         "no target row"),
        # ... and neither do its VALUES expressions
        ("WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name) "
         "VALUES (s.n_nationkey, t.n_name)", "no target row"),
        # BY SOURCE conditions see no source row
        ("WHEN NOT MATCHED BY SOURCE AND s.n_nationkey = 1 THEN DELETE",
         "no source row"),
        # ... and neither do its SET right-hand sides
        ("WHEN NOT MATCHED BY SOURCE THEN UPDATE SET "
         "n_name = s.n_name", "no source row"),
        # column-list INSERT: must assign the merge key, arity must
        # match, columns must exist on the target
        ("WHEN NOT MATCHED THEN INSERT (n_name) VALUES ('x')",
         "must assign the merge key"),
        ("WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name) "
         "VALUES (s.n_nationkey)", "supplies 1 expression"),
        ("WHEN NOT MATCHED THEN INSERT (n_nationkey, nope) "
         "VALUES (s.n_nationkey, 'x')", "unknown columns"),
        ("WHEN NOT MATCHED THEN INSERT (n_nationkey, n_nationkey) "
         "VALUES (1, 2)", "duplicate INSERT column"),
        ("WHEN NOT MATCHED THEN INSERT (n_nationkey) SELECT 1",
         "requires VALUES"),
    ]
    head = (
        f"MERGE INTO '{merge_tgt}' t USING (SELECT 1 AS n_nationkey) s "
        f"ON t.n_nationkey = s.n_nationkey "
    )
    for clause, msg in cases:
        with pytest.raises(LanceDatasetError, match=msg):
            lance_sql(spark, head + clause)
    # non-equality / multi-condition ON
    for on in ["t.n_nationkey < s.n_nationkey",
               "t.n_nationkey = s.n_nationkey AND t.n_regionkey = 1"]:
        with pytest.raises(LanceDatasetError, match="ON condition"):
            lance_sql(
                spark,
                f"MERGE INTO '{merge_tgt}' t USING (SELECT 1 AS "
                f"n_nationkey) s ON {on} WHEN MATCHED THEN DELETE",
            )
    # aliases must differ, and the target must exist
    with pytest.raises(LanceDatasetError, match="must differ"):
        lance_sql(
            spark,
            f"MERGE INTO '{merge_tgt}' t USING (SELECT 1 AS x) t "
            f"ON t.a = t.b WHEN MATCHED THEN DELETE",
        )
    with pytest.raises(LanceDatasetError, match="not a lance dataset"):
        lance_sql(
            spark,
            "MERGE INTO '/tmp/definitely_missing_xyz.lance' t USING "
            "(SELECT 1 AS k) s ON t.k = s.k WHEN MATCHED THEN DELETE",
        )


def test_same_path_divergent_filters_union(spark, lance_db):
    """One dataset referenced twice in one statement with DIFFERENT
    WHERE clauses must evaluate each branch independently. Spark 4.1
    plans a Python-DataSource relation once per relation instance,
    so lance_sql registers one temp view PER OCCURRENCE — without
    that, the second branch's pushed filter silently bled into the
    first branch's scan (observed r9: a UNION ALL whose first branch
    returned only rows satisfying BOTH branches' predicates)."""
    p = f"{lance_db}/nation.lance"
    rows = lance_sql(
        spark,
        f"SELECT n_nationkey FROM '{p}' WHERE n_nationkey % 2 = 0 "
        f"UNION ALL "
        f"SELECT n_nationkey FROM '{p}' WHERE n_nationkey < 3",
    ).collect()
    got = sorted(r[0] for r in rows)
    all_keys = [
        r[0]
        for r in lance_sql(
            spark, f"SELECT n_nationkey FROM '{p}'"
        ).collect()
    ]
    want = sorted(
        [k for k in all_keys if k % 2 == 0] + [k for k in all_keys if k < 3]
    )
    assert got == want


def test_sql_delete_where_and_refusals(spark, sf_dir, merge_tgt):
    from lance_duckdb_spark.sources import lance_format as lf
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    before = _state(spark, merge_tgt)
    out = lance_sql(
        spark,
        f"DELETE FROM '{merge_tgt}' WHERE n_regionkey = 2 "
        f"AND length(n_name) > 4",
    ).collect()
    expect_gone = {
        k for k, (name, reg) in before.items() if reg == 2 and len(name) > 4
    }
    assert out[0]["rows_deleted"] == len(expect_gone)
    after = _state(spark, merge_tgt)
    assert set(after) == set(before) - expect_gone
    # deletion vectors, not rewrites: data files untouched
    m = lf.read_manifest(merge_tgt)
    assert any(f.deletion_file for f in m.fragments)
    # second delete merges masks and never recounts removed rows
    out2 = lance_sql(
        spark, f"DELETE FROM '{merge_tgt}' WHERE n_regionkey = 2"
    ).collect()
    remaining_r2 = {k for k, (_, reg) in after.items() if reg == 2}
    assert out2[0]["rows_deleted"] == len(remaining_r2)
    assert set(_state(spark, merge_tgt)) == set(after) - remaining_r2
    # a DELETE matching nothing is a version no-op
    v = lf.read_manifest(merge_tgt).version
    out3 = lance_sql(
        spark, f"DELETE FROM '{merge_tgt}' WHERE n_nationkey < 0"
    ).collect()
    assert out3[0]["rows_deleted"] == 0
    assert lf.read_manifest(merge_tgt).version == v
    # refusals: unbounded DELETE, missing dataset
    with pytest.raises(LanceDatasetError, match="unbounded"):
        lance_sql(spark, f"DELETE FROM '{merge_tgt}'")
    with pytest.raises(LanceDatasetError, match="not a lance dataset"):
        lance_sql(
            spark, "DELETE FROM '/tmp/missing_zzz.lance' WHERE 1 = 1"
        )


def test_registered_views_safe_under_optimizer_cloning(spark, lance_db):
    """Spark 4.1 plans a Python-DS relation once per relation
    instance and serves every plan position of it from that single
    scan — so registered views (long-lived relations the optimizer
    may clone into filter-divergent positions) must DECLINE filter
    pushdown entirely. Before the r9 fix, a UNION of two WHEREs over
    one view returned the intersection-filtered rows, and a
    constant-key semi join returned nothing."""
    register_lance_views(spark, lance_db)
    all_keys = [r.n_nationkey for r in spark.sql("SELECT n_nationkey FROM nation").collect()]
    got = sorted(
        r[0]
        for r in spark.sql(
            "SELECT n_nationkey FROM nation WHERE n_nationkey % 2 = 0 "
            "UNION ALL SELECT n_nationkey FROM nation WHERE n_nationkey < 3"
        ).collect()
    )
    want = sorted(
        [k for k in all_keys if k % 2 == 0] + [k for k in all_keys if k < 3]
    )
    assert got == want
    # the constant-key semi join shape (optimizer turns it into a
    # col = <lit> pushdown on one clone of the relation)
    n = spark.sql(
        "SELECT count(*) FROM nation WHERE n_nationkey IN "
        "(SELECT 7 WHERE EXISTS (SELECT 1))"
    ).first()[0]
    assert n == (1 if 7 in all_keys else 0)
    # same shape through lance_sql's per-occurrence views
    p = f"{lance_db}/nation.lance"
    n2 = lance_sql(
        spark,
        f"SELECT count(*) FROM '{p}' WHERE n_nationkey IN "
        f"(SELECT 7 WHERE EXISTS (SELECT 1))",
    ).first()[0]
    assert n2 == n


def test_sql_update_semantics_and_refusals(spark, sf_dir, tmp_path):
    from lance_duckdb_spark.sources import lance_format as lf
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    root = str(tmp_path / "upd.lance")
    ds.register(spark)
    # four fragments so pruning is observable
    load(spark, sf_dir, "nation").repartition(4).write.format(
        "lance"
    ).mode("overwrite").save(root)
    before = {
        r["n_nationkey"]: (r["n_name"], r["n_regionkey"])
        for r in spark.read.format("lance").load(root).collect()
    }
    files_before = {f.file for f in lf.read_manifest(root).fragments}
    out = lance_sql(
        spark,
        f"UPDATE '{root}' SET n_name = lower(n_name), "
        f"n_regionkey = CAST(n_regionkey + 10 AS INT) "
        f"WHERE n_regionkey = 2 AND length(n_name) > 4",
    ).collect()
    hit = {
        k for k, (nm, rg) in before.items() if rg == 2 and len(nm) > 4
    }
    assert out[0]["rows_updated"] == len(hit)
    after = {
        r["n_nationkey"]: (r["n_name"], r["n_regionkey"])
        for r in spark.read.format("lance").load(root).collect()
    }
    for k, (nm, rg) in before.items():
        assert after[k] == ((nm.lower(), rg + 10) if k in hit else (nm, rg))
    # fragment pruning: untouched fragments carried by file identity
    files_after = {f.file for f in lf.read_manifest(root).fragments}
    assert files_before & files_after, "no fragment was carried"
    assert files_before != files_after, "no fragment was rewritten"
    # RHS sees OLD values even when another SET column feeds it
    lance_sql(
        spark,
        f"UPDATE '{root}' SET n_regionkey = CAST(n_nationkey AS INT), "
        f"n_nationkey = CAST(n_regionkey AS INT) WHERE n_nationkey = 0",
    ).collect()
    r0 = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in spark.read.format("lance").load(root).collect()
    }
    assert r0.get(after[0][1]) == 0  # swapped, not chained
    # no-match UPDATE is a version no-op
    v = lf.read_manifest(root).version
    out2 = lance_sql(
        spark, f"UPDATE '{root}' SET n_name = 'x' WHERE n_nationkey < 0"
    ).collect()
    assert out2[0]["rows_updated"] == 0
    assert lf.read_manifest(root).version == v
    # refusals: unknown column, type change, duplicate assignment
    with pytest.raises(LanceDatasetError, match="unknown columns"):
        lance_sql(spark, f"UPDATE '{root}' SET nope = 1 WHERE 1=1")
    with pytest.raises(LanceDatasetError, match="column types"):
        lance_sql(
            spark,
            f"UPDATE '{root}' SET n_regionkey = 'text' WHERE 1=1",
        )
    with pytest.raises(LanceDatasetError, match="duplicate"):
        lance_sql(
            spark,
            f"UPDATE '{root}' SET n_name = 'a', n_name = 'b' WHERE 1=1",
        )
    with pytest.raises(LanceDatasetError, match="not a lance dataset"):
        lance_sql(spark, "UPDATE '/tmp/zz_missing.lance' SET a = 1")
    # WHERE-less UPDATE is allowed (bulk transform) and hits all rows
    out3 = lance_sql(
        spark, f"UPDATE '{root}' SET n_name = upper(n_name)"
    ).collect()
    assert out3[0]["rows_updated"] == len(before)


def test_sql_vacuum_and_optimize(spark, sf_dir, tmp_path):
    from lance_duckdb_spark.sources import lance_format as lf
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    root = str(tmp_path / "maint.lance")
    ds.register(spark)
    orders = load(spark, sf_dir, "orders")
    orders.repartition(8).write.format("lance").mode("overwrite").save(root)
    orders.limit(50).write.format("lance").mode("append").save(root)
    n = spark.read.format("lance").load(root).count()
    # OPTIMIZE (plain compaction) shrinks the fragment count, keeps rows
    out = lance_sql(spark, f"OPTIMIZE '{root}'").collect()
    assert out[0]["n_fragments"] < 9
    assert spark.read.format("lance").load(root).count() == n
    # OPTIMIZE ZORDER BY re-clusters on two columns
    out = lance_sql(
        spark, f"OPTIMIZE '{root}' ZORDER BY (o_custkey, o_totalprice)"
    ).collect()
    assert spark.read.format("lance").load(root).count() == n
    with pytest.raises(LanceDatasetError, match="exactly two"):
        lance_sql(spark, f"OPTIMIZE '{root}' ZORDER BY (o_custkey)")
    # VACUUM drops old versions past the retention window
    n_versions = len(lf.list_versions(root))
    assert n_versions > 2
    out = lance_sql(
        spark, f"VACUUM '{root}' (KEEP_LAST 2, OLDER_THAN_SECONDS 0)"
    ).collect()
    assert out[0]["versions_removed"] == n_versions - 2
    assert len(lf.list_versions(root)) == 2
    assert spark.read.format("lance").load(root).count() == n
    with pytest.raises(LanceDatasetError, match="unknown VACUUM option"):
        lance_sql(spark, f"VACUUM '{root}' (RETAIN 5)")
    with pytest.raises(LanceDatasetError, match="unsupported maintenance"):
        lance_sql(spark, "VACUUM sometable")


def test_merge_using_refuses_nested_dml(spark, merge_tgt):
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    with pytest.raises(LanceDatasetError, match="read-only subquery"):
        lance_sql(
            spark,
            f"MERGE INTO '{merge_tgt}' t USING ("
            f"DELETE FROM '{merge_tgt}' WHERE 1=1"
            f") s ON t.n_nationkey = s.n_nationkey "
            f"WHEN MATCHED THEN DELETE",
        )


def test_merge_using_refuses_nondeterministic_source(spark, merge_tgt):
    """merge_apply evaluates the source in several separate jobs —
    a nondeterministic subquery could classify different rows per
    job (silently inconsistent counts + written rows), so it is
    refused up front exactly like UPDATE's nondeterministic WHERE
    (r11 advice)."""
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    for bad in [
        "SELECT CAST(rand() * 10 AS INT) AS k",
        "SELECT CAST(1 AS INT) AS k, current_timestamp AS ts",
        f"SELECT n_nationkey AS k FROM '{merge_tgt}' "
        f"TABLESAMPLE (50 PERCENT)",
    ]:
        with pytest.raises(LanceDatasetError, match="nondeterministic"):
            lance_sql(
                spark,
                f"MERGE INTO '{merge_tgt}' t USING ({bad}) s "
                f"ON t.n_nationkey = s.k WHEN MATCHED THEN DELETE",
            )


def test_merge_by_source_hits_null_keyed_rows(spark, tmp_path):
    """A NULL-keyed target row is always 'not matched', so BY SOURCE
    clauses hit it — but min/max bounds and fragment zone maps both
    skip NULLs, so pre-r12 the changed-bounds pruning could carry a
    fragment whose only hits are NULL-keyed while still counting its
    rows (silently wrong data + counts; r11 advice). Layout built to
    trigger exactly that: fragment A holds the non-NULL changes
    (keys 0-4), fragment B holds keys 100-104 (all matched,
    untouched) plus the NULL-keyed row, so B's zone maps fail the
    [0, 4] changed-bounds overlap."""
    ds.register(spark)
    root = str(tmp_path / "nulltgt.lance")
    schema = "n_nationkey int, n_name string, n_regionkey int"
    frag_a = spark.createDataFrame(
        [(k, f"a{k}", 0) for k in range(5)], schema
    ).coalesce(1)
    frag_b = spark.createDataFrame(
        [(k, f"b{k}", 1) for k in range(100, 105)]
        + [(None, "nullkey", 9)],
        schema,
    ).coalesce(1)
    frag_a.write.format("lance").mode("overwrite").save(root)
    frag_b.write.format("lance").mode("append").save(root)

    out = lance_sql(
        spark,
        f"MERGE INTO '{root}' t USING ("
        f"  SELECT CAST(k AS INT) AS k FROM VALUES"
        f"    (0), (100), (101), (102), (103), (104) AS v(k)"
        f") s ON t.n_nationkey = s.k "
        f"WHEN MATCHED AND t.n_nationkey = 0 "
        f"THEN UPDATE SET n_name = 'ZZZ' "
        f"WHEN NOT MATCHED BY SOURCE THEN DELETE",
    ).collect()
    # hits: key 0 updated; keys 1-4 AND the NULL-keyed row deleted
    assert [tuple(out[0])] == [(1, 0, 5)]
    after = spark.read.format("lance").load(root).collect()
    got = {r["n_nationkey"]: r["n_name"] for r in after}
    assert got == {0: "ZZZ", 100: "b100", 101: "b101",
                   102: "b102", 103: "b103", 104: "b104"}
    assert all(r["n_nationkey"] is not None for r in after)

    # all-NULL-keyed hit set: pre-r12 this path raised TypeError on
    # min(changed_lo, None) or pruned every fragment; BY SOURCE
    # UPDATE must still rewrite the NULL-keyed row
    frag_c = spark.createDataFrame([(None, "ghost", 7)], schema).coalesce(1)
    frag_c.write.format("lance").mode("append").save(root)
    out = lance_sql(
        spark,
        f"MERGE INTO '{root}' t USING ("
        f"  SELECT n_nationkey AS k FROM '{root}' "
        f"  WHERE n_nationkey IS NOT NULL"
        f") s ON t.n_nationkey = s.k "
        f"WHEN NOT MATCHED BY SOURCE "
        f"THEN UPDATE SET n_name = concat(t.n_name, '!')",
    ).collect()
    assert [tuple(out[0])] == [(1, 0, 0)]
    after = spark.read.format("lance").load(root).collect()
    assert sorted(r["n_name"] for r in after if r["n_nationkey"] is None) == [
        "ghost!"
    ]


def test_merge_not_matched_by_source_delete(spark, sf_dir, merge_tgt):
    """The snapshot-sync form: UPDATE SET * + INSERT * + NOT MATCHED
    BY SOURCE DELETE makes the target equal the source snapshot."""
    src = (
        f"SELECT n_nationkey, upper(n_name) AS n_name, n_regionkey"
        f" FROM '{merge_tgt}' WHERE n_nationkey BETWEEN 3 AND 8"
        f" UNION ALL SELECT CAST(500 AS INT), 'NEWPLACE', CAST(0 AS INT)"
    )
    before = _state(spark, merge_tgt)
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ({src}) s "
        f"ON t.n_nationkey = s.n_nationkey "
        f"WHEN MATCHED THEN UPDATE SET * "
        f"WHEN NOT MATCHED THEN INSERT * "
        f"WHEN NOT MATCHED BY SOURCE THEN DELETE",
    ).collect()
    assert [tuple(out[0])] == [(6, 1, len(before) - 6)]
    after = _state(spark, merge_tgt)
    assert set(after) == set(range(3, 9)) | {500}
    for k in range(3, 9):
        assert after[k] == (before[k][0].upper(), before[k][1])
    assert after[500] == ("NEWPLACE", 0)
    # sync-delete ALONE: target shrinks to the matched key set
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey FROM '{merge_tgt}' WHERE n_nationkey >= 5"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN NOT MATCHED BY SOURCE THEN DELETE",
    ).collect()
    assert [tuple(out[0])] == [(0, 0, 2)]  # keys 3 and 4 drop
    final = _state(spark, merge_tgt)
    assert set(final) == {5, 6, 7, 8, 500}
    # BY SOURCE UPDATE (r11): unmatched survivors update from the
    # OLD target row; matched rows are untouched
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey FROM '{merge_tgt}' WHERE n_nationkey >= 7"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN NOT MATCHED BY SOURCE AND t.n_nationkey > 5 "
        f"THEN UPDATE SET n_name = concat(t.n_name, '!')",
    ).collect()
    assert [tuple(out[0])] == [(1, 0, 0)]  # only key 6 (<7, >5)
    synced = _state(spark, merge_tgt)
    assert synced[6] == (final[6][0] + "!", final[6][1])
    for k in (5, 7, 8, 500):
        assert synced[k] == final[k]


def test_merge_conditional_clauses(spark, sf_dir, merge_tgt):
    """WHEN ... AND <cond> clauses, first match wins (ANSI order):
    region-1 matches delete, remaining matches update, conditional
    insert filters the not-matched source rows."""
    before = _state(spark, merge_tgt)
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey, upper(n_name) AS n_name, n_regionkey"
        f"  FROM '{merge_tgt}'"
        f"  UNION ALL SELECT CAST(300 AS INT), 'KEEPME', CAST(1 AS INT)"
        f"  UNION ALL SELECT CAST(301 AS INT), 'DROPME', CAST(4 AS INT)"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN MATCHED AND t.n_regionkey = 1 THEN DELETE "
        f"WHEN MATCHED THEN UPDATE SET * "
        f"WHEN NOT MATCHED AND s.n_regionkey < 2 THEN INSERT *",
    ).collect()
    n_r1 = sum(1 for _, (_, reg) in before.items() if reg == 1)
    assert [tuple(out[0])] == [(len(before) - n_r1, 1, n_r1)]
    after = _state(spark, merge_tgt)
    assert 300 in after and 301 not in after
    for k, (name, reg) in before.items():
        if reg == 1:
            assert k not in after  # first clause won
        else:
            assert after[k] == (name.upper(), reg)


def test_merge_column_level_set(spark, sf_dir, merge_tgt):
    """UPDATE SET col = expr: right-hand sides see the OLD target
    row (t.) and the source row (s.); unassigned columns carry."""
    before = _state(spark, merge_tgt)
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey, n_regionkey FROM '{merge_tgt}'"
        f"  WHERE n_nationkey < 4"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN MATCHED THEN UPDATE SET "
        f"  n_name = concat(t.n_name, '-', CAST(s.n_regionkey AS STRING)), "
        f"  n_regionkey = CAST(t.n_regionkey + 10 AS INT)",
    ).collect()
    assert [tuple(out[0])] == [(4, 0, 0)]
    after = _state(spark, merge_tgt)
    for k, (name, reg) in before.items():
        if k < 4:
            # n_name's RHS reads s.n_regionkey, n_regionkey's RHS
            # reads the OLD t.n_regionkey — both against pre-merge
            assert after[k] == (f"{name}-{reg}", reg + 10)
        else:
            assert after[k] == (name, reg)
    # a SET expression that changes the column type is refused
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    with pytest.raises(LanceDatasetError, match="column types"):
        lance_sql(
            spark,
            f"MERGE INTO '{merge_tgt}' t USING ("
            f"  SELECT n_nationkey FROM '{merge_tgt}' WHERE n_nationkey = 0"
            f") s ON t.n_nationkey = s.n_nationkey "
            f"WHEN MATCHED THEN UPDATE SET n_regionkey = 'oops'",
        )


def test_merge_cardinality_violation(spark, sf_dir, merge_tgt):
    """Two source rows matching one target key raise the ANSI
    cardinality error; duplicate UNMATCHED keys insert freely."""
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    with pytest.raises(LanceDatasetError, match="multiple rows"):
        lance_sql(
            spark,
            f"MERGE INTO '{merge_tgt}' t USING ("
            f"  SELECT CAST(1 AS INT) AS n_nationkey, 'A' AS n_name,"
            f"         CAST(0 AS INT) AS n_regionkey"
            f"  UNION ALL SELECT CAST(1 AS INT), 'B', CAST(0 AS INT)"
            f") s ON t.n_nationkey = s.n_nationkey "
            f"WHEN MATCHED THEN UPDATE SET *",
        )
    # same duplicate keys, but UNMATCHED: both rows insert (ANSI)
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT CAST(901 AS INT) AS n_nationkey, 'A' AS n_name,"
        f"         CAST(0 AS INT) AS n_regionkey"
        f"  UNION ALL SELECT CAST(901 AS INT), 'B', CAST(0 AS INT)"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN NOT MATCHED THEN INSERT *",
    ).collect()
    assert [tuple(out[0])] == [(0, 2, 0)]


def test_merge_single_commit_and_noop(spark, sf_dir, merge_tgt):
    """Multi-action MERGE publishes exactly ONE new version (atomic:
    no reader can observe a half-applied merge), and a MERGE that
    changes nothing publishes none."""
    from lance_duckdb_spark.sources import lance_format as lf

    v0 = len(lf.list_versions(merge_tgt))
    lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey, n_name, n_regionkey FROM '{merge_tgt}'"
        f"  WHERE n_nationkey >= 3"
        f"  UNION ALL SELECT CAST(700 AS INT), 'NEW', CAST(0 AS INT)"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN MATCHED AND t.n_nationkey < 5 THEN DELETE "
        f"WHEN NOT MATCHED THEN INSERT * "
        f"WHEN NOT MATCHED BY SOURCE THEN DELETE",
    ).collect()
    assert len(lf.list_versions(merge_tgt)) == v0 + 1
    after = _state(spark, merge_tgt)
    assert set(after) == set(range(5, 25)) | {700}
    # no-op: nothing matches any clause -> no new version
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT CAST(700 AS INT) AS n_nationkey, 'NEW' AS n_name,"
        f"         CAST(0 AS INT) AS n_regionkey"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN MATCHED AND t.n_name = 'NOPE' THEN DELETE "
        f"WHEN NOT MATCHED THEN INSERT *",
    ).collect()
    assert [tuple(out[0])] == [(0, 0, 0)]
    assert len(lf.list_versions(merge_tgt)) == v0 + 1


def test_merge_sync_delete_with_duplicate_source_keys(spark, sf_dir, merge_tgt):
    """A duplicate-keyed source is LEGAL when no matched clause
    exists (the ANSI cardinality check guards matched clauses only)
    — and must not fan matched target rows out into duplicate
    survivors through the classification join."""
    before = _state(spark, merge_tgt)
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey FROM '{merge_tgt}' WHERE n_nationkey >= 10"
        f"  UNION ALL"
        f"  SELECT n_nationkey FROM '{merge_tgt}' WHERE n_nationkey >= 10"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN NOT MATCHED BY SOURCE THEN DELETE",
    ).collect()
    assert [tuple(out[0])] == [(0, 0, 10)]  # keys 0..9 drop once each
    after = spark.read.format("lance").load(merge_tgt).collect()
    assert len(after) == len(before) - 10  # no duplicated survivors
    assert {r["n_nationkey"] for r in after} == {
        k for k in before if k >= 10
    }


def test_merge_condition_string_literal_safety(spark, sf_dir, merge_tgt):
    """Alias rewriting must not touch string literals: a condition
    comparing against 'when t.x then' stays a literal, and a SET
    value containing 's.n_name' writes that exact text."""
    out = lance_sql(
        spark,
        f"MERGE INTO '{merge_tgt}' t USING ("
        f"  SELECT n_nationkey FROM '{merge_tgt}' WHERE n_nationkey = 2"
        f") s ON t.n_nationkey = s.n_nationkey "
        f"WHEN MATCHED AND t.n_name <> 'when t.x then' "
        f"THEN UPDATE SET n_name = 's.n_name literal'",
    ).collect()
    assert [tuple(out[0])] == [(1, 0, 0)]
    assert _state(spark, merge_tgt)[2][0] == "s.n_name literal"


def test_update_refuses_nondeterministic_predicate(spark, sf_dir, tmp_path):
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    root = str(tmp_path / "nondet.lance")
    ds.register(spark)
    load(spark, sf_dir, "nation").write.format("lance").mode(
        "overwrite"
    ).save(root)
    for pred in ["rand() < 0.5", "n_nationkey < 5 AND rand() > 0",
                 "current_date() > DATE'2020-01-01'"]:
        with pytest.raises(LanceDatasetError, match="nondeterministic"):
            lance_sql(
                spark, f"UPDATE '{root}' SET n_regionkey = 0 WHERE {pred}"
            )


_MERGE_USING = "MERGE INTO '{t}' t USING (SELECT n_nationkey AS k FROM '{t}'"


@pytest.mark.parametrize(
    "stmt",
    [
        "UPDATE '{t}' SET n_regionkey = 0 WHERE random() < 0.5",
        "UPDATE '{t}' SET n_regionkey = 0 WHERE uniform(0, 1) < 0.5",
        "UPDATE '{t}' SET n_regionkey = 0 WHERE curdate() > DATE'2020-01-01'",
        "UPDATE '{t}' SET n_regionkey = 0 WHERE spark_partition_id() = 0",
        _MERGE_USING + ") s ON t.n_nationkey = s.k "
        "WHEN MATCHED AND rand() < 0.5 THEN UPDATE SET n_regionkey = 0",
        _MERGE_USING + ") s ON t.n_nationkey = s.k "
        "WHEN MATCHED AND now() > TIMESTAMP'2020-01-01' "
        "THEN UPDATE SET n_regionkey = 0",
        _MERGE_USING + " WHERE spark_partition_id() = 0) s "
        "ON t.n_nationkey = s.k WHEN MATCHED THEN DELETE",
        _MERGE_USING + " WHERE uniform(0, 1) < 0.5) s "
        "ON t.n_nationkey = s.k WHEN MATCHED THEN DELETE",
        "ALTER TABLE '{t}' ADD COLUMN r double AS (random())",
        "ALTER TABLE '{t}' ADD COLUMN d date AS (curdate())",
    ],
)
def test_dml_refuses_nondeterministic_forms(spark, merge_tgt, stmt):
    """Spark's analyzer, not a name list, decides what is
    nondeterministic: aliases (random, uniform, curdate,
    spark_partition_id), clock reads, and MERGE WHEN conditions that
    the stats pass and the rewrite evaluate separately are refused
    before any version commits."""
    from lance_duckdb_spark.sources import lance_format as lf

    before = lf.read_manifest(merge_tgt).version
    with pytest.raises(lf.LanceDatasetError, match="nondeterministic"):
        lance_sql(spark, stmt.format(t=merge_tgt))
    assert lf.read_manifest(merge_tgt).version == before


def test_sql_update_respects_deletion_vectors(spark, sf_dir, tmp_path):
    """A row hidden by a deletion vector must stay gone through an
    UPDATE whose predicate it matches — the rewrite materializes the
    mask, never resurrects the row."""
    root = str(tmp_path / "updv.lance")
    ds.register(spark)
    load(spark, sf_dir, "nation").write.format("lance").mode(
        "overwrite"
    ).save(root)
    lance_sql(
        spark, f"DELETE FROM '{root}' WHERE n_nationkey IN (1, 3)"
    ).collect()
    out = lance_sql(
        spark,
        f"UPDATE '{root}' SET n_name = 'Z' WHERE n_nationkey < 5",
    ).collect()
    assert out[0]["rows_updated"] == 3  # 0, 2, 4 — never 1 or 3
    rows = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.format("lance").load(root).collect()
    }
    assert 1 not in rows and 3 not in rows
    assert rows[0] == rows[2] == rows[4] == "Z"
    assert rows[5] != "Z"


# ------------------------------------------------------ INSERT / DESCRIBE


def test_sql_insert_positional_and_column_list(spark, sf_dir, merge_tgt):
    """INSERT INTO through the SQL surface (r11): positional SELECT
    (generated column names immaterial), column-list null-fill, and
    VALUES as the query."""
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    before = _state(spark, merge_tgt)
    out = lance_sql(
        spark,
        f"INSERT INTO '{merge_tgt}' SELECT CAST(700 AS INT), "
        f"upper('new'), CAST(3 AS INT)",
    ).collect()
    assert [tuple(out[0])] == [(1,)]
    out = lance_sql(
        spark,
        f"INSERT INTO '{merge_tgt}' (n_nationkey, n_name) "
        f"VALUES (CAST(701 AS INT), 'a'), (CAST(702 AS INT), 'b')",
    ).collect()
    assert [tuple(out[0])] == [(2,)]
    after = _state(spark, merge_tgt)
    assert len(after) == len(before) + 3
    assert after[700] == ("NEW", 3)
    assert after[701] == ("a", None)  # n_regionkey null-fills
    assert after[702] == ("b", None)
    # refusals: arity, unknown/dup columns, retype, nested write
    cases = [
        (f"INSERT INTO '{merge_tgt}' SELECT 1", "produces 1 columns"),
        (f"INSERT INTO '{merge_tgt}' (n_nationkey, nope) VALUES (1, 2)",
         "unknown columns"),
        (f"INSERT INTO '{merge_tgt}' (n_nationkey, n_nationkey) "
         f"VALUES (1, 2)", "duplicate column"),
        (f"INSERT INTO '{merge_tgt}' (n_nationkey) VALUES (1, 2)",
         "names 1 columns"),
        (f"INSERT INTO '{merge_tgt}' (n_nationkey) VALUES ('x')",
         "changes column types"),
        (f"INSERT INTO '{merge_tgt}' DELETE FROM '{merge_tgt}' "
         f"WHERE n_nationkey = 1", "read-only query"),
    ]
    for sql, msg in cases:
        with pytest.raises(LanceDatasetError, match=msg):
            lance_sql(spark, sql)


def test_sql_describe_and_history(spark, sf_dir, merge_tgt):
    """DESCRIBE lists (col_name, data_type, nullable) in schema
    order; DESCRIBE HISTORY one row per version with live rows and
    masked deletions moving across a DELETE and an INSERT."""
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    desc = lance_sql(spark, f"DESCRIBE '{merge_tgt}'").collect()
    assert [(r["col_name"], r["data_type"]) for r in desc] == [
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ]
    n0 = len(_state(spark, merge_tgt))
    lance_sql(
        spark, f"DELETE FROM '{merge_tgt}' WHERE n_nationkey % 2 = 0"
    ).collect()
    lance_sql(
        spark,
        f"INSERT INTO '{merge_tgt}' VALUES (CAST(900 AS INT), 'z', "
        f"CAST(0 AS INT))",
    ).collect()
    hist = {
        r["version"]: (r["n_rows"], r["n_deleted"])
        for r in lance_sql(
            spark, f"DESCRIBE HISTORY '{merge_tgt}'"
        ).collect()
    }
    n_del = (n0 + 1) // 2  # even keys 0..n0-1
    assert hist[1] == (n0, 0)
    assert hist[2] == (n0 - n_del, n_del)
    assert hist[3] == (n0 - n_del + 1, n_del)
    with pytest.raises(LanceDatasetError, match="not a lance dataset"):
        lance_sql(spark, "DESCRIBE 'missing.lance'")


def test_alter_table_add_columns(spark, sf_dir, merge_tgt):
    """ALTER TABLE ADD COLUMN[S] (r12): new columns append NULLABLE
    to the committed schema as a zero-IO version (fragments carried
    by reference); pre-evolution rows surface typed NULLs; INSERT
    can then populate them. Everything else is refused."""
    from lance_duckdb_spark.sources.lance_format import (
        LanceDatasetError,
    )
    from lance_duckdb_spark.sources import lance_format as lf

    v_before = lf.read_manifest(merge_tgt).version
    frags_before = [f.file for f in lf.read_manifest(merge_tgt).fragments]
    out = lance_sql(
        spark,
        f"ALTER TABLE '{merge_tgt}' ADD COLUMNS "
        f"note string, score decimal(10,2), tags array<string>",
    ).collect()
    cols = {r["col_name"]: (r["data_type"], r["nullable"]) for r in out}
    assert cols["note"] == ("string", True)
    assert cols["score"] == ("decimal(10,2)", True)
    assert cols["tags"] == ("array<string>", True)
    man = lf.read_manifest(merge_tgt)
    # zero data IO: same fragment files, one new version
    assert man.version == v_before + 1
    assert [f.file for f in man.fragments] == frags_before
    # pre-evolution rows read typed NULLs
    rows = spark.read.format("lance").load(merge_tgt).collect()
    assert all(r["note"] is None and r["score"] is None for r in rows)
    # and INSERT populates the evolved columns
    lance_sql(
        spark,
        f"INSERT INTO '{merge_tgt}' (n_nationkey, n_name, note) "
        f"VALUES (CAST(400 AS INT), 'EVOLVED', 'hello')",
    ).collect()
    got = {
        r["n_nationkey"]: r["note"]
        for r in spark.read.format("lance").load(merge_tgt).collect()
    }
    assert got[400] == "hello"

    # refusal matrix
    for bad, pat in [
        (f"ALTER TABLE '{merge_tgt}' RENAME COLUMN nope TO x",
         "unknown column"),
        (f"ALTER TABLE '{merge_tgt}' RENAME COLUMN n_name TO note",
         "already exists"),
        # r13: retype exists now, but only exact-valued widenings —
        # string -> int is lossy and refuses with the backfill recipe
        (f"ALTER TABLE '{merge_tgt}' ALTER COLUMN n_name TYPE int",
         "exact-valued widening"),
        (f"ALTER TABLE '{merge_tgt}' ADD COLUMN n_name string",
         "already exist"),
        (f"ALTER TABLE '{merge_tgt}' ADD COLUMNS a int, a string",
         "duplicate column"),
        (f"ALTER TABLE '{merge_tgt}' ADD COLUMN b nosuchtype",
         "cannot parse"),
        # r13: NOT NULL is refused loudly, never silently coerced —
        # pre-evolution fragments must surface NULLs
        (f"ALTER TABLE '{merge_tgt}' ADD COLUMN c int NOT NULL",
         "NOT NULL"),
        (f"ALTER TABLE '{merge_tgt}' DROP COLUMN nope",
         "unknown columns"),
        (f"ALTER TABLE '{merge_tgt}' DROP COLUMNS score, score",
         "duplicate column"),
    ]:
        with pytest.raises(LanceDatasetError, match=pat):
            lance_sql(spark, bad)


def test_alter_table_drop_column(spark, sf_dir, merge_tgt):
    """DROP COLUMN (r12): metadata-only — schema narrows, every
    fragment carried by reference, pre-drop versions still
    time-travel with the column, and the name is TOMBSTONED. Since
    r13 (stable field ids), re-adding the name on an all-id-mapped
    dataset is ALLOWED: the re-added field gets a fresh id, pre-drop
    files provably null-fill it (the dead column's bytes can never
    surface), and the tombstone retires."""
    from pyspark.sql import functions as F

    from lance_duckdb_spark.sources import lance_format as lf
    from lance_duckdb_spark.sources.lance_format import (
        LanceDatasetError,
    )

    v_before = lf.read_manifest(merge_tgt).version
    frags_before = [
        f.file for f in lf.read_manifest(merge_tgt).fragments
    ]
    out = lance_sql(
        spark, f"ALTER TABLE '{merge_tgt}' DROP COLUMN n_regionkey"
    ).collect()
    assert [r["col_name"] for r in out] == ["n_nationkey", "n_name"]
    man = lf.read_manifest(merge_tgt)
    assert man.version == v_before + 1
    assert [f.file for f in man.fragments] == frags_before  # zero IO
    assert man.dropped_names == {"n_regionkey"}
    live = spark.read.format("lance").load(merge_tgt)
    assert live.columns == ["n_nationkey", "n_name"]
    # pre-drop version still time-travels WITH the column
    old = (
        spark.read.format("lance")
        .option("version", v_before)
        .load(merge_tgt)
    )
    assert "n_regionkey" in old.columns
    assert old.where(F.col("n_regionkey").isNotNull()).count() > 0
    # dropping everything refuses
    with pytest.raises(LanceDatasetError, match="every column"):
        lance_sql(
            spark,
            f"ALTER TABLE '{merge_tgt}' DROP COLUMNS "
            f"n_nationkey, n_name",
        )
    # r13 tombstone retirement: re-adding the dropped name on an
    # all-id-mapped dataset succeeds, reads NULL from EVERY pre-add
    # fragment (the old bytes are dead by id), and the tombstone is
    # gone
    lance_sql(
        spark,
        f"ALTER TABLE '{merge_tgt}' ADD COLUMN n_regionkey int",
    ).collect()
    man2 = lf.read_manifest(merge_tgt)
    assert man2.dropped_names == set()
    readded = spark.read.format("lance").load(merge_tgt)
    assert readded.where(F.col("n_regionkey").isNotNull()).count() == 0
    # the old version STILL serves the original values
    old2 = (
        spark.read.format("lance")
        .option("version", v_before)
        .load(merge_tgt)
    )
    assert old2.where(F.col("n_regionkey").isNotNull()).count() > 0


def test_alter_table_drop_readd_refused_on_legacy(spark, sf_dir, tmp_path):
    """The r12 refusal survives for LEGACY datasets: with any
    fragment lacking field ids, the null-filling scan reads by name
    and a re-add would surface the dead bytes — refused loudly."""
    import json as _json

    from lance_duckdb_spark.sources import lance_format as lf
    from lance_duckdb_spark.sources.datasource import register
    from lance_duckdb_spark.tables import load

    register(spark)
    root = str(tmp_path / "legacy_readd.lance")
    load(spark, sf_dir, "nation").write.format("lance").mode(
        "overwrite"
    ).save(root)
    # strip field ids, simulating a pre-r13 dataset
    man = lf.read_manifest(root)
    d = man.to_json()
    d.pop("field_ids", None)
    d.pop("next_field_id", None)
    for fr in d["fragments"]:
        fr.pop("field_ids", None)
    from lance_duckdb_spark.sources import iolayer as iol

    iol.write_text(
        f"{root}/_versions/{man.version}.manifest", _json.dumps(d)
    )
    lance_sql(
        spark, f"ALTER TABLE '{root}' DROP COLUMN n_regionkey"
    ).collect()
    with pytest.raises(
        lf.LanceDatasetError, match="lack stable field ids"
    ):
        lance_sql(
            spark,
            f"ALTER TABLE '{root}' ADD COLUMN n_regionkey int",
        )
    # and RENAME refuses on legacy fragments too
    with pytest.raises(
        lf.LanceDatasetError, match="stable field ids"
    ):
        lance_sql(
            spark,
            f"ALTER TABLE '{root}' RENAME COLUMN n_name TO nm",
        )
    # a full rewrite still reclaims the name (r12 path)
    lance_sql(
        spark,
        f"CREATE OR REPLACE TABLE '{root}' AS "
        f"SELECT n_nationkey, n_name FROM '{root}'",
    ).collect()
    assert lf.read_manifest(root).dropped_names == set()


def test_alter_table_rename_column(spark, sf_dir, merge_tgt):
    """RENAME COLUMN (r13): metadata-only through stable field ids —
    zero data IO, values survive under the new name, old versions
    time-travel under the old name, DML refuses until a compact
    materializes the rename, and compact retires the mismatch."""
    from pyspark.sql import functions as F

    from lance_duckdb_spark.sources import lance_format as lf

    v_before = lf.read_manifest(merge_tgt).version
    frags_before = [
        f.file for f in lf.read_manifest(merge_tgt).fragments
    ]
    before = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.format("lance").load(merge_tgt).collect()
    }
    out = lance_sql(
        spark,
        f"ALTER TABLE '{merge_tgt}' RENAME COLUMN n_name TO nation_name",
    ).collect()
    assert [r["col_name"] for r in out] == [
        "n_nationkey", "nation_name", "n_regionkey",
    ]
    man = lf.read_manifest(merge_tgt)
    assert man.version == v_before + 1
    assert [f.file for f in man.fragments] == frags_before  # zero IO
    # values intact under the new name
    after = {
        r["n_nationkey"]: r["nation_name"]
        for r in spark.read.format("lance").load(merge_tgt).collect()
    }
    assert after == before
    # filters on the renamed column still work (physical translation)
    one = (
        spark.read.format("lance")
        .load(merge_tgt)
        .where(F.col("nation_name") == before[0])
        .collect()
    )
    assert [r["n_nationkey"] for r in one] == [0]
    # old version time-travels under the OLD name
    old = (
        spark.read.format("lance")
        .option("version", v_before)
        .load(merge_tgt)
    )
    assert "n_name" in old.columns and "nation_name" not in old.columns
    # by-name read paths refuse until the rename is materialized
    from lance_duckdb_spark.operators.lance_ops import take_rows

    with pytest.raises(
        lf.LanceDatasetError, match="materialize the rename"
    ):
        take_rows(spark, merge_tgt, [0])
    with pytest.raises(
        lf.LanceDatasetError, match="materialize the rename"
    ):
        lance_sql(
            spark,
            f"UPDATE '{merge_tgt}' SET n_regionkey = 9 "
            f"WHERE n_nationkey = 0",
        )
    # compact materializes: physical names now current, DML works
    lf.compact(merge_tgt, target_rows=1)
    assert lf.read_manifest(merge_tgt).physical_mismatches() == []
    got = take_rows(spark, merge_tgt, [0]).collect()
    assert len(got) == 1
    after2 = {
        r["n_nationkey"]: r["nation_name"]
        for r in spark.read.format("lance").load(merge_tgt).collect()
    }
    assert after2 == before


def test_drop_column_tombstone_vs_rewrites(spark, sf_dir, tmp_path):
    """Tombstone lifecycle is PHYSICAL, not time-based: it survives
    any commit that carries a pre-drop fragment forward (a partial
    rewrite — the surviving file still holds the old bytes) and
    clears when a maintenance rewrite replaces EVERY pre-drop file.
    Since r13, on an all-id-mapped dataset the tombstone is also
    RETIRED by a safe re-add (fresh field id — the old bytes are
    dead by id even in surviving pre-drop files), so the re-add
    succeeds mid-lifecycle and reads NULLs everywhere; the legacy
    refusal is covered in test_alter_table_drop_readd_refused_on_
    legacy."""
    from lance_duckdb_spark.sources import lance_format as lf

    ds.register(spark)
    root = str(tmp_path / "tomb.lance")
    schema = "k int, name string, extra int"
    spark.createDataFrame(
        [(i, f"a{i}", i * 10) for i in range(5)], schema
    ).coalesce(1).write.format("lance").mode("overwrite").save(root)
    spark.createDataFrame(
        [(i, f"b{i}", i * 10) for i in range(100, 105)], schema
    ).coalesce(1).write.format("lance").mode("append").save(root)

    lance_sql(spark, f"ALTER TABLE '{root}' DROP COLUMN extra").collect()
    assert lf.read_manifest(root).dropped_names == {"extra"}
    # PARTIAL rewrite: UPDATE hits only fragment B (keys >= 100);
    # fragment A still physically holds 'extra' — the tombstone
    # carries forward (physical lifecycle unchanged)
    lance_sql(
        spark,
        f"UPDATE '{root}' SET name = upper(name) WHERE k >= 100",
    ).collect()
    assert lf.read_manifest(root).dropped_names == {"extra"}
    # r13: the re-add SUCCEEDS on the all-id-mapped dataset — fresh
    # field id, tombstone retired, pre-drop bytes provably dead
    lance_sql(spark, f"ALTER TABLE '{root}' ADD COLUMN extra int").collect()
    man = lf.read_manifest(root)
    assert man.dropped_names == set()
    # fragment A still physically carries the old 'extra' under its
    # dead id; the scan must NULL-fill, never surface i*10
    rows = spark.read.format("lance").load(root).collect()
    assert len(rows) == 10
    assert all(r["extra"] is None for r in rows)
    # the re-added field's id differs from every fragment-recorded
    # 'extra' id (the no-reuse invariant the NULL-fill rests on)
    new_id = man.field_ids["extra"]
    for fr in man.fragments:
        if fr.field_ids and "extra" in fr.field_ids:
            assert fr.field_ids["extra"] != new_id
    # and an INSERT into the re-added column serves values while
    # old fragments keep reading NULL
    lance_sql(
        spark,
        f"INSERT INTO '{root}' (k, name, extra) "
        f"VALUES (CAST(500 AS INT), 'fresh', CAST(7 AS INT))",
    ).collect()
    got = {
        r["k"]: r["extra"]
        for r in spark.read.format("lance").load(root).collect()
    }
    assert got[500] == 7
    assert all(v is None for k, v in got.items() if k != 500)


def test_copy_and_ctas_refuse_nested_writes(spark, merge_tgt, tmp_path):
    """COPY (...) TO and CTAS bodies re-enter lance_sql — a smuggled
    write/DDL statement there must refuse, like INSERT/MERGE do."""
    from lance_duckdb_spark.sources.lance_format import (
        LanceDatasetError,
    )

    dst = str(tmp_path / "out.lance")
    with pytest.raises(LanceDatasetError, match="read-only"):
        lance_sql(
            spark,
            f"COPY (DELETE FROM '{merge_tgt}' WHERE 1=1) TO '{dst}' "
            f"(FORMAT LANCE)",
        )
    with pytest.raises(LanceDatasetError, match="read-only"):
        lance_sql(
            spark,
            f"CREATE TABLE '{dst}' AS "
            f"ALTER TABLE '{merge_tgt}' ADD COLUMN x int",
        )


def test_alter_table_add_column_backfill(spark, sf_dir, merge_tgt):
    """ADD COLUMN ... AS (<expr>) (r13): the expression evaluates
    over EXISTING rows and commits as one rewrite version — values
    present immediately, old versions time-travel without the
    column, type mismatches and nondeterminism refused loudly."""
    from pyspark.sql import functions as F

    from lance_duckdb_spark.sources import lance_format as lf
    from lance_duckdb_spark.sources.lance_format import (
        LanceDatasetError,
    )

    v_before = lf.read_manifest(merge_tgt).version
    out = lance_sql(
        spark,
        f"ALTER TABLE '{merge_tgt}' ADD COLUMN double_key int AS "
        f"(n_nationkey * 2)",
    ).collect()
    assert ("double_key", "int", True) in [tuple(r) for r in out]
    rows = spark.read.format("lance").load(merge_tgt).collect()
    assert all(r["double_key"] == r["n_nationkey"] * 2 for r in rows)
    # a rewrite version: old version time-travels WITHOUT the column
    old = (
        spark.read.format("lance")
        .option("version", v_before)
        .load(merge_tgt)
    )
    assert "double_key" not in old.columns
    for bad, pat in [
        (f"ALTER TABLE '{merge_tgt}' ADD COLUMN double_key int AS "
         f"(n_nationkey)", "already exist"),
        (f"ALTER TABLE '{merge_tgt}' ADD COLUMN r double AS (rand())",
         "nondeterministic"),
        (f"ALTER TABLE '{merge_tgt}' ADD COLUMN s int AS (n_name)",
         "make the\n?.*conversion explicit|conversion explicit"),
        (f"ALTER TABLE '{merge_tgt}' ADD COLUMN t nosuchtype AS "
         f"(n_nationkey)", "cannot parse"),
        (f"ALTER TABLE '{merge_tgt}' ADD COLUMN u int AS (nope + 1)",
         "cannot evaluate"),
    ]:
        with pytest.raises(LanceDatasetError, match=pat):
            lance_sql(spark, bad)
    # the backfill rewrite replaced every fragment, so a pre-drop
    # tombstone would have retired; the new field carries a fresh id
    man = lf.read_manifest(merge_tgt)
    assert man.field_ids["double_key"] == max(man.field_ids.values())


def test_compact_and_delete_never_resurrect_dead_bytes(
    spark, sf_dir, tmp_path
):
    """r13 review finding: after DROP + re-ADD (fresh field id), a
    maintenance rewrite (compact / delete_where) of pre-drop
    fragments must null-fill the re-added name — never materialize
    the dead physical bytes back under it by name."""
    import pyarrow.compute as pc

    from lance_duckdb_spark.sources import lance_format as lf

    ds.register(spark)
    root = str(tmp_path / "deadbytes.lance")
    spark.createDataFrame(
        [(i, f"a{i}", i * 10) for i in range(6)],
        "k int, name string, extra int",
    ).coalesce(1).write.format("lance").mode("overwrite").save(root)
    lance_sql(spark, f"ALTER TABLE '{root}' DROP COLUMN extra").collect()
    lance_sql(spark, f"ALTER TABLE '{root}' ADD COLUMN extra int").collect()
    # delete_where rewrites the (pre-drop) fragment: predicate on a
    # live column, and the rewritten rows must carry NULL extra
    lf.delete_where(root, pc.field("k") == 0)
    rows = spark.read.format("lance").load(root).collect()
    assert len(rows) == 5
    assert all(r["extra"] is None for r in rows)
    # compact likewise (fresh dataset to isolate)
    root2 = str(tmp_path / "deadbytes2.lance")
    spark.createDataFrame(
        [(i, f"a{i}", i * 10) for i in range(6)],
        "k int, name string, extra int",
    ).coalesce(1).write.format("lance").mode("overwrite").save(root2)
    lance_sql(spark, f"ALTER TABLE '{root2}' DROP COLUMN extra").collect()
    lance_sql(spark, f"ALTER TABLE '{root2}' ADD COLUMN extra int").collect()
    lf.compact(root2, target_rows=1)
    rows2 = spark.read.format("lance").load(root2).collect()
    assert len(rows2) == 6
    assert all(r["extra"] is None for r in rows2)
    # and the physical mismatch is gone after the rewrite
    assert lf.read_manifest(root2).physical_mismatches() == []


def test_backfill_refuses_multi_column_list(spark, sf_dir, merge_tgt):
    """r13 review finding: a multi-column ADD list whose LAST element
    carries AS (...) must refuse loudly, not silently drop columns
    and backfill the first."""
    from lance_duckdb_spark.sources.lance_format import (
        LanceDatasetError,
    )

    with pytest.raises(LanceDatasetError, match="exactly ONE column"):
        lance_sql(
            spark,
            f"ALTER TABLE '{merge_tgt}' ADD COLUMNS flag int, "
            f"score double AS (n_nationkey * 2)",
        )
    with pytest.raises(LanceDatasetError, match="NOT NULL"):
        lance_sql(
            spark,
            f"ALTER TABLE '{merge_tgt}' ADD COLUMN s2 int NOT NULL "
            f"AS (n_nationkey)",
        )


def test_scalar_index_refuses_renamed_dataset(spark, sf_dir, merge_tgt):
    """r13 review finding: build_scalar_index reads fragments by
    CURRENT name — on a renamed (unmaterialized) dataset it would
    index all-NULL and serve silently empty results; refuse."""
    from lance_duckdb_spark.sources import lance_format as lf
    from lance_duckdb_spark.sources.scalar_index import (
        build_scalar_index,
    )

    lance_sql(
        spark,
        f"ALTER TABLE '{merge_tgt}' RENAME COLUMN n_name TO nm",
    ).collect()
    with pytest.raises(
        lf.LanceDatasetError, match="materialize the rename"
    ):
        build_scalar_index(spark, merge_tgt, "nm")
    # after compact the build works
    lf.compact(merge_tgt, target_rows=1)
    build_scalar_index(spark, merge_tgt, "nm")


def test_stream_refuses_mid_stream_rename(spark, sf_dir, tmp_path):
    """r13 review finding: a RENAME committed under a running stream
    must fail the next batch loudly (the pinned schema's name no
    longer exists in the current schema), never silently stream
    NULLs."""
    from lance_duckdb_spark.sources import lance_format as lf
    from lance_duckdb_spark.sources.datasource import (
        LanceStreamReader,
    )

    ds.register(spark)
    root = str(tmp_path / "stream_mid_rn.lance")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(5)], "k int, val string"
    ).write.format("lance").mode("overwrite").save(root)
    # reader pinned at the pre-rename schema (as a running query is)
    from pyspark.sql.types import StructType

    import json as _json

    pinned = StructType.fromJson(
        _json.loads(lf.read_manifest(root).schema_json)
    )
    reader = LanceStreamReader(root, pinned)
    start = reader.initialOffset()
    lance_sql(
        spark, f"ALTER TABLE '{root}' RENAME COLUMN val TO payload"
    ).collect()
    end = {"frag_count": 1, "prefix_sha": reader._prefix_sha(
        lf.read_manifest(root).fragments, 1)}
    with pytest.raises(
        lf.LanceDatasetError, match="renamed or dropped under a running"
    ):
        reader.partitions(start, end)


def test_columns_option_on_renamed_fragment_no_crash(
    spark, sf_dir, tmp_path
):
    """r13 review finding: an explicit columns projection naming only
    a field ABSENT from a renamed (non-identity) fragment must not
    read the full row width or crash — it null-fills."""
    ds.register(spark)
    root = str(tmp_path / "proj_rn.lance")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(4)], "k int, val string"
    ).write.format("lance").mode("overwrite").save(root)
    lance_sql(
        spark, f"ALTER TABLE '{root}' RENAME COLUMN val TO payload"
    ).collect()
    lance_sql(
        spark, f"ALTER TABLE '{root}' ADD COLUMN newcol int"
    ).collect()
    got = (
        spark.read.format("lance")
        .option("columns", "newcol")
        .load(root)
        .collect()
    )
    assert len(got) == 4
    assert all(r["newcol"] is None for r in got)


def test_alter_column_retype_widening(spark, sf_dir, merge_tgt):
    """ALTER COLUMN ... TYPE (r13): exact-valued widenings commit as
    one rewrite version — values identical under the wider type, old
    versions time-travel with the old type, the field keeps its
    stable id; lossy casts and unknowns refuse loudly."""
    from pyspark.sql import functions as F

    from lance_duckdb_spark.sources import lance_format as lf
    from lance_duckdb_spark.sources.lance_format import (
        LanceDatasetError,
    )

    v_before = lf.read_manifest(merge_tgt).version
    id_before = lf.read_manifest(merge_tgt).field_ids["n_regionkey"]
    before = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in spark.read.format("lance").load(merge_tgt).collect()
    }
    out = lance_sql(
        spark,
        f"ALTER TABLE '{merge_tgt}' ALTER COLUMN n_regionkey TYPE bigint",
    ).collect()
    assert ("n_regionkey", "bigint", True) in [tuple(r) for r in out]
    man = lf.read_manifest(merge_tgt)
    assert man.version == v_before + 1
    assert man.field_ids["n_regionkey"] == id_before  # identity kept
    after = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in spark.read.format("lance").load(merge_tgt).collect()
    }
    assert after == before
    # time travel: old type
    old = (
        spark.read.format("lance")
        .option("version", v_before)
        .load(merge_tgt)
    )
    assert dict(old.dtypes)["n_regionkey"] == "int"
    # refusals
    for bad, pat in [
        (f"ALTER TABLE '{merge_tgt}' ALTER COLUMN n_regionkey TYPE int",
         "not an exact-valued widening"),  # narrowing back
        (f"ALTER TABLE '{merge_tgt}' ALTER COLUMN n_regionkey TYPE bigint",
         "already of type"),
        (f"ALTER TABLE '{merge_tgt}' ALTER COLUMN nope TYPE bigint",
         "unknown column"),
        (f"ALTER TABLE '{merge_tgt}' ALTER COLUMN n_nationkey TYPE nosuch",
         "cannot parse"),
    ]:
        with pytest.raises(LanceDatasetError, match=pat):
            lance_sql(spark, bad)


def test_alter_column_retype_decimal_growth(spark, sf_dir, tmp_path):
    ds.register(spark)
    root = str(tmp_path / "retype_dec.lance")
    spark.sql(
        "SELECT CAST(id AS int) AS k, "
        "CAST(id * 1.25 AS decimal(10,2)) AS amt FROM range(5)"
    ).write.format("lance").mode("overwrite").save(root)
    lance_sql(
        spark,
        f"ALTER TABLE '{root}' ALTER COLUMN amt TYPE decimal(14,4)",
    ).collect()
    rows = spark.read.format("lance").load(root).orderBy("k").collect()
    assert [str(r["amt"]) for r in rows] == [
        "0.0000", "1.2500", "2.5000", "3.7500", "5.0000",
    ]
    from lance_duckdb_spark.sources.lance_format import (
        LanceDatasetError,
    )

    # losing integer-digit headroom refuses even when scale grows
    with pytest.raises(LanceDatasetError, match="exact-valued"):
        lance_sql(
            spark,
            f"ALTER TABLE '{root}' ALTER COLUMN amt TYPE decimal(14,8)",
        )


def test_alter_column_retype_using(spark, sf_dir, tmp_path):
    """ALTER COLUMN ... TYPE ... USING (<expr>) (r14): the explicit-
    cast escape hatch as ONE statement — the lossy-retype refusal's
    recipe is now a working verb. Expression over the OLD row (any
    column may appear), must evaluate to exactly the declared type,
    commits as one rewrite version with the stable field id kept."""
    from lance_duckdb_spark.sources import lance_format as lf
    from lance_duckdb_spark.sources.lance_format import LanceDatasetError

    ds.register(spark)
    root = str(tmp_path / "retype_using.lance")
    spark.sql(
        "SELECT CAST(id AS bigint) AS k, CAST(id * 1.5 AS double) AS v "
        "FROM range(5)"
    ).write.format("lance").mode("overwrite").save(root)
    v_before = lf.read_manifest(root).version
    id_before = lf.read_manifest(root).field_ids["v"]

    # lossy double -> int: refused implicitly, served via USING
    with pytest.raises(LanceDatasetError, match="USING"):
        lance_sql(spark, f"ALTER TABLE '{root}' ALTER COLUMN v TYPE int")
    out = lance_sql(
        spark,
        f"ALTER TABLE '{root}' ALTER COLUMN v TYPE int "
        f"USING (CAST(FLOOR(v) AS int))",
    ).collect()
    assert ("v", "int", True) in [tuple(r) for r in out]
    man = lf.read_manifest(root)
    assert man.version == v_before + 1
    assert man.field_ids["v"] == id_before  # identity kept
    rows = spark.read.format("lance").load(root).orderBy("k").collect()
    assert [r["v"] for r in rows] == [0, 1, 3, 4, 6]
    # time travel: pre-retype version keeps the old type and values
    old = (
        spark.read.format("lance").option("version", v_before).load(root)
    )
    assert dict(old.dtypes)["v"] == "double"

    # the expression may reference OTHER columns of the old row
    lance_sql(
        spark,
        f"ALTER TABLE '{root}' ALTER COLUMN v TYPE string "
        f"USING (CONCAT(CAST(k AS string), ':', CAST(v AS string)))",
    ).collect()
    rows = spark.read.format("lance").load(root).orderBy("k").collect()
    assert [r["v"] for r in rows] == ["0:0", "1:1", "2:3", "3:4", "4:6"]

    # refusal matrix
    for bad, pat in [
        # type mismatch: expression type must equal the declared type
        (f"ALTER TABLE '{root}' ALTER COLUMN v TYPE int USING (k)",
         "evaluates to"),
        # same-type USING is an UPDATE in disguise
        (f"ALTER TABLE '{root}' ALTER COLUMN v TYPE string "
         f"USING (UPPER(v))",
         "UPDATE"),
        # unknown column inside the expression
        (f"ALTER TABLE '{root}' ALTER COLUMN v TYPE int "
         f"USING (CAST(nope AS int))",
         "failed to resolve"),
        # unknown target column
        (f"ALTER TABLE '{root}' ALTER COLUMN nope TYPE int USING (k)",
         "unknown column"),
    ]:
        with pytest.raises(LanceDatasetError, match=pat):
            lance_sql(spark, bad)
