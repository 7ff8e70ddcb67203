"""DML statements through Spark's own SQL parser (catalog._run_dml):
exact text slices for conditions and values, dialect refusals of forms
Spark accepts, parse errors worded as the dialect's refusals, and the
arguments each registry DML statement hands the maintenance layer."""

from __future__ import annotations

import pytest

from lance_duckdb_spark.catalog import lance_sql
from lance_duckdb_spark.sources import datasource as ds
from lance_duckdb_spark.sources import lance_format as lf
from lance_duckdb_spark.sources import maintenance
from lance_duckdb_spark.tables import load


@pytest.fixture()
def nation_root(spark, sf_dir, tmp_path):
    root = str(tmp_path / "nation.lance")
    ds.register(spark)
    load(spark, sf_dir, "nation").write.format("lance").mode(
        "overwrite"
    ).save(root)
    return root


def _names(spark, root):
    return {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.format("lance").load(root).collect()
    }


def _rows_changed(before, after):
    return {k for k in before if after.get(k) != before[k]} | (
        set(after) - set(before)
    )


# Each statement carries text a quote-counting scanner misreads:
# backslash-escaped quotes (Spark's string escape) and a leading
# comment. (statement template, changed keys, value written.)
ESCAPE_CASES = [
    # an escaped quote followed by a comma inside the value
    ("UPDATE '{p}' SET n_name = 'a\\'b, c' WHERE n_nationkey = 1",
     {1}, "a'b, c"),
    # the value hides an escaped quote and a WHERE keyword
    ("UPDATE '{p}' SET n_name = 'q\\' WHERE ' WHERE n_nationkey = 3",
     {3}, "q' WHERE "),
    # a comment before the verb
    ("-- rename one nation\nUPDATE '{p}' SET n_name = 'c' "
     "WHERE n_nationkey = 4", {4}, "c"),
    # an escaped quote next to THEN inside a MERGE condition
    ("MERGE INTO '{p}' t USING (SELECT CAST(2 AS INT) AS k) s "
     "ON t.n_nationkey = s.k "
     "WHEN MATCHED AND t.n_name <> 'it\\'s then' "
     "THEN UPDATE SET n_name = 'm'", {2}, "m"),
]


@pytest.mark.parametrize("stmt,keys,value", ESCAPE_CASES)
def test_dml_with_escapes_and_comments(spark, nation_root, stmt, keys, value):
    before = _names(spark, nation_root)
    out = lance_sql(spark, stmt.format(p=nation_root)).collect()
    assert out[0][0] == len(keys)
    after = _names(spark, nation_root)
    assert _rows_changed(before, after) == keys
    assert all(after[k] == value for k in keys)


def test_predicate_slices_cover_the_whole_expression(spark, nation_root):
    """IN, BETWEEN and IS NULL nodes start at their keyword, and a
    top-level EXISTS carries its clause's offsets: the predicate text
    must still be the whole expression."""
    before = _names(spark, nation_root)
    out = lance_sql(
        spark,
        f"DELETE FROM '{nation_root}' WHERE n_nationkey IN (1, 2) "
        f"OR n_nationkey BETWEEN 5 AND 6 OR n_name IS NULL",
    ).collect()
    assert out[0]["rows_deleted"] == 4
    assert set(_names(spark, nation_root)) == set(before) - {1, 2, 5, 6}
    out = lance_sql(
        spark,
        f"UPDATE '{nation_root}' SET n_name = 'e' "
        f"WHERE EXISTS (SELECT 1) AND n_nationkey = 7",
    ).collect()
    assert out[0]["rows_updated"] == 1
    assert _names(spark, nation_root)[7] == "e"


# Forms Spark's grammar accepts that the dialect refuses, and the
# one that stays accepted (WHERE TRUE).
REFUSED = [
    ("UPDATE '{p}' AS u SET n_name = 'x' WHERE u.n_nationkey = 1",
     "unsupported UPDATE syntax"),
    ("DELETE FROM '{p}' d WHERE d.n_nationkey = 1",
     "unsupported DELETE syntax"),
    ("INSERT OVERWRITE TABLE '{p}' SELECT * FROM '{p}'",
     "unsupported INSERT syntax"),
    ("INSERT INTO '{p}' PARTITION (n_regionkey = 1) "
     "SELECT CAST(90 AS INT), 'x'", "unsupported INSERT syntax"),
    ("INSERT INTO '{p}' BY NAME SELECT * FROM '{p}'",
     "unsupported INSERT syntax"),
    ("DELETE FROM '{p}'", "unbounded"),
    ("DELETE FROM '{p}' -- WHERE n_nationkey = 1", "unbounded"),
]


@pytest.mark.parametrize("stmt,msg", REFUSED)
def test_dialect_refuses_forms_spark_accepts(spark, nation_root, stmt, msg):
    v = lf.read_manifest(nation_root).version
    with pytest.raises(lf.LanceDatasetError, match=msg):
        lance_sql(spark, stmt.format(p=nation_root))
    assert lf.read_manifest(nation_root).version == v


def test_delete_where_true_stays_accepted(spark, nation_root):
    n = len(_names(spark, nation_root))
    out = lance_sql(spark, f"DELETE FROM '{nation_root}' WHERE TRUE").collect()
    assert out[0]["rows_deleted"] == n
    assert _names(spark, nation_root) == {}


@pytest.mark.parametrize(
    "stmt,msg",
    [
        ("UPDATE '{p}' SET", "unsupported UPDATE syntax"),
        ("DELETE '{p}' WHERE n_nationkey = 1", "unsupported DELETE syntax"),
        ("INSERT INTO '{p}' SELEC 1", "unsupported INSERT syntax"),
        ("MERGE INTO '{p}' t USING (SELECT 1 AS k) s ON t.n_nationkey = s.k",
         "supported MERGE dialect"),
        ("MERGE INTO '{p}' t USING (SELECT 1 AS k) s ON t.n_nationkey = s.k "
         "WHEN MATCHED BY TARGET THEN DELETE", "supported MERGE dialect"),
    ],
)
def test_parse_errors_become_dialect_refusals(spark, nation_root, stmt, msg):
    """No raw ParseException escapes a DML statement."""
    with pytest.raises(lf.LanceDatasetError, match=msg):
        lance_sql(spark, stmt.format(p=nation_root))


# What the registry's DML statements hand the maintenance layer,
# captured from the regex front end this parser replaced: equal
# arguments mean equal writes, so the oracles match by construction.
DML_ARGS = {
    "lance_merge": [
        ("merge_apply", "c_custkey",
         [{"cond": None, "action": "update", "sets": None}],
         [{"cond": None, "sets": None}], []),
        ("merge_apply", "c_custkey",
         [{"cond": None, "action": "delete", "sets": None}], [], []),
        ("merge_apply", "c_custkey", [], [],
         [{"cond": None, "action": "delete", "sets": None}]),
    ],
    "lance_sql_update": [
        ("update_where_sql",
         {"c_acctbal": "CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100.00 "
                       "AS DOUBLE)",
          "c_mktsegment": "lower(c_mktsegment)"},
         "c_nationkey % 5 = 2"),
    ],
    "lance_sql_delete": [
        ("delete_where_sql", "o_totalprice > 150000.0"),
        ("delete_where_sql",
         "o_orderstatus = 'F' AND o_totalprice > 100000.0"),
    ],
    "lance_merge_conditional": [
        ("merge_apply", "c_custkey",
         [{"cond": "`__t_c_acctbal` < 0", "action": "delete",
           "sets": None},
          {"cond": None, "action": "update",
           "sets": {"c_acctbal": "CAST(CAST(`__t_c_acctbal` AS "
                                 "DECIMAL(18,2)) + 50.00 AS DOUBLE)",
                    "c_mktsegment": "lower(`__t_c_mktsegment`)"}}],
         [{"cond": "`c_nationkey` < 13", "sets": None}], []),
    ],
    "lance_merge_insert_values": [
        ("merge_apply", "c_custkey",
         [{"cond": None, "action": "update",
           "sets": {"c_acctbal": "CAST(CAST(`__t_c_acctbal` AS "
                                 "DECIMAL(18,2)) + 25.00 AS DOUBLE)"}}],
         [{"cond": "`c_nationkey` < 10",
           "sets": {"c_custkey": "`c_custkey`",
                    "c_name": "upper(`c_name`)",
                    "c_acctbal": "CAST(CAST(`c_acctbal` AS DECIMAL(18,2)) "
                                 "- 10.00 AS DOUBLE)"}},
          {"cond": None,
           "sets": {"c_custkey": "`c_custkey`", "c_name": "`c_name`",
                    "c_nationkey": "`c_nationkey`",
                    "c_acctbal": "`c_acctbal`",
                    "c_mktsegment": "'MINTED'"}}],
         [{"cond": "`__t_c_custkey` % 2 = 0", "action": "update",
           "sets": {"c_mktsegment": "lower(`__t_c_mktsegment`)"}}]),
    ],
}


@pytest.mark.parametrize("name", sorted(DML_ARGS))
def test_registry_dml_arguments_unchanged(spark, sf_dir, monkeypatch, name):
    from lance_duckdb_spark.registry import QUERY_REGISTRY

    calls = []
    for fn in ("merge_apply", "update_where_sql", "delete_where_sql"):
        orig = getattr(maintenance, fn)

        def record(spark, path, *args, _fn=fn, _orig=orig):
            if _fn == "merge_apply":
                calls.append((_fn, *args[1:]))  # the source frame aside
            else:
                calls.append((_fn, *args))
            return _orig(spark, path, *args)

        monkeypatch.setattr(maintenance, fn, record)
    QUERY_REGISTRY[name](spark, sf_dir).collect()
    assert calls == DML_ARGS[name]
