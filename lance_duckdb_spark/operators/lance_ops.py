"""Lance-connector parity queries (SURVEY.md §2.A1-A6) exposed via
the driver contract: write real test tables into a Lance dataset,
read them back through ``spark.read.format("lance")``, and run
analytics over the result. The DuckDB oracle computes the same
answers from the original parquet — so a hash match proves the
connector's write→commit→scan path is lossless.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.datasource import register
from ..tables import load
from .common import dsum, money

_WORKDIR = "/tmp/lance_duckdb_spark"


def _fresh_root(sf_dir: str, name: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(_WORKDIR, tag, f"{name}.lance")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.dirname(root), exist_ok=True)
    return root


def lance_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A3/A5: write customer through the lance writer, scan it
    back, join against orders, aggregate. Equals the same query on
    the original parquet iff the roundtrip is lossless."""
    register(spark)
    root = _fresh_root(sf_dir, "roundtrip")
    load(spark, sf_dir, "customer").write.format("lance").mode("overwrite").save(root)
    cust = spark.read.format("lance").load(root)
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice"), "revenue"),
            F.countDistinct("c_custkey").alias("n_cust"),
        )
        .orderBy("c_mktsegment")
    )


LANCE_ROUNDTRIP_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  COUNT(DISTINCT c_custkey) AS n_cust
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def lance_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6: overwrite creates v1, append creates v2; version=1 must
    see only the first write, the latest read sees both."""
    register(spark)
    root = _fresh_root(sf_dir, "timetravel")
    orders = load(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp_ntz")
    orders.where(F.col("o_orderdate") < cut).write.format("lance").mode(
        "overwrite"
    ).save(root)
    orders.where(F.col("o_orderdate") >= cut).write.format("lance").mode(
        "append"
    ).save(root)

    v1 = spark.read.format("lance").option("version", 1).load(root)
    latest = spark.read.format("lance").load(root)
    a = v1.agg(
        F.count(F.lit(1)).alias("v1_orders"),
        dsum(money("o_totalprice"), "v1_revenue"),
    )
    b = latest.agg(
        F.count(F.lit(1)).alias("latest_orders"),
        dsum(money("o_totalprice"), "latest_revenue"),
    )
    return a.crossJoin(F.broadcast(b))


LANCE_TIME_TRAVEL_SQL = """
SELECT
  (SELECT COUNT(*) FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01') AS v1_orders,
  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
     FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01') AS v1_revenue,
  (SELECT COUNT(*) FROM orders) AS latest_orders,
  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
     FROM orders) AS latest_revenue
"""


def lance_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: scan with a pushable predicate + narrowed schema; the
    filter is consumed inside the fragment reader (pyarrow row-group
    skipping), not by a Spark Filter node (asserted in
    tests/test_lance_source.py)."""
    register(spark)
    root = _fresh_root(sf_dir, "pushdown")
    load(spark, sf_dir, "lineitem").write.format("lance").mode("overwrite").save(root)
    li = spark.read.format("lance").load(root)
    return (
        li.where((F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(money("l_quantity"), "sum_qty"),
        )
        .orderBy("l_returnflag")
    )


LANCE_PUSHDOWN_SQL = """
SELECT l_returnflag, COUNT(*) AS n_items,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_quantity >= 10 AND l_quantity <= 20
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def lance_dataset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 introspection as a checked query: write part with a fixed
    fragment layout, read the dataset metadata back (version,
    fragment count, per-manifest row total, field count) — equal to
    ground truth iff open/manifest/schema introspection is correct
    (reference: lance_open_dataset + lance_get_schema +
    lance_schema_num_fields, rust/lib.rs:26-144)."""
    from ..sources import lance_format as lf

    register(spark)
    root = _fresh_root(sf_dir, "stats")
    load(spark, sf_dir, "part").repartition(4).write.format("lance").mode(
        "overwrite"
    ).save(root)
    manifest = lf.read_manifest(root)
    import json as _json

    n_fields = len(_json.loads(manifest.schema_json)["fields"])
    row = [
        (
            manifest.version,
            len(manifest.fragments),
            sum(f.num_rows for f in manifest.fragments),
            n_fields,
        )
    ]
    return local_frame(
        spark,
        row,
        schema="version int, n_fragments int, total_rows long, n_fields int",
    )


LANCE_DATASET_STATS_SQL = """
SELECT CAST(1 AS INTEGER) AS version,
       CAST(4 AS INTEGER) AS n_fragments,
       (SELECT COUNT(*) FROM part) AS total_rows,
       CAST(6 AS INTEGER) AS n_fields
"""


def lance_native_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wheel-free read of a *genuine* Lance dataset — the reference's
    own test/test_data.lance, written by Lance 0.32 (protobuf
    manifests + v2 data files), decoded by sources/lance_native.py
    (parity: Dataset::open + scanner, rust/lib.rs:26-51,
    rust/scanner.rs). The oracle is the dataset's known fixed
    content, so a hash match proves manifest parsing, schema
    introspection, and page decoding end-to-end."""
    register(spark)
    df = spark.read.format("lance").load(
        "/root/reference/test/test_data.lance"
    )
    return df.select("id", "name", "age", "score").orderBy("id")


LANCE_NATIVE_READ_SQL = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'Alice',   CAST(25 AS BIGINT), CAST(85.5 AS DOUBLE)),
  (CAST(2 AS BIGINT), 'Bob',     CAST(30 AS BIGINT), CAST(92.0 AS DOUBLE)),
  (CAST(3 AS BIGINT), 'Charlie', CAST(35 AS BIGINT), CAST(78.5 AS DOUBLE)),
  (CAST(4 AS BIGINT), 'David',   CAST(40 AS BIGINT), CAST(88.0 AS DOUBLE)),
  (CAST(5 AS BIGINT), 'Eve',     CAST(45 AS BIGINT), CAST(95.5 AS DOUBLE))
) t(id, name, age, score) ORDER BY id
"""


def lance_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance parity (sources/maintenance.py:43): write customer
    as a lance dataset, merge an updates batch (modified balances for
    every 7th key + brand-new keys), read the post-merge state back.
    Equal to the oracle's recomputed merge iff fragment-pruned upsert
    replaces matches, appends novelties, and commits atomically."""
    from ..sources.maintenance import upsert

    register(spark)
    root = _fresh_root(sf_dir, "upsert")
    cust = load(spark, sf_dir, "customer")
    cust.write.format("lance").mode("overwrite").save(root)
    upd_a = cust.where(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal",
        (money("c_acctbal") + F.lit("1000.00").cast("decimal(18,2)")).cast(
            "double"
        ),
    )
    upd_b = cust.where(F.col("c_custkey") % 13 == 5).withColumn(
        "c_custkey", F.col("c_custkey") + F.lit(10_000_000)
    )
    upsert(spark, root, upd_a.unionByName(upd_b), key="c_custkey")
    merged = spark.read.format("lance").load(root)
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(money("c_acctbal"), "total_bal"),
            F.countDistinct("c_custkey").alias("n_keys"),
        )
        .orderBy("c_mktsegment")
    )


LANCE_UPSERT_SQL = """
WITH upd AS (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 1000.00 AS DOUBLE) AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 13 = 5
),
merged AS (
  SELECT * FROM customer
  WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
  UNION ALL
  SELECT * FROM upd
)
SELECT c_mktsegment, COUNT(*) AS n_rows,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
  COUNT(DISTINCT c_custkey) AS n_keys
FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def lance_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO through the SQL surface (catalog.lance_sql — the
    lakehouse verb DuckDB ships natively and the reference would get
    via its DuckDB host; r8 VERDICT item 7): write customer as a
    lance dataset, then run TWO MERGE statements —

    1. ``WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
       INSERT *`` with a source that modifies every 7th key's balance
       and mints brand-new keys (the lance_upsert shapes, but driven
       entirely from SQL; the source subquery reads the target path
       itself via the replacement scan), lowering onto the
       fragment-pruned upsert;
    2. ``WHEN MATCHED THEN DELETE`` for every 11th key of the merged
       state, lowering onto the fragment-pruned key-set delete
       (sources/maintenance.py delete_keys);
    3. ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` (the snapshot-sync
       clause) against a source holding only keys with
       ``c_custkey % 3 <> 1`` — the remaining third of the table
       drops because the source no longer carries it.

    The hashed artifact is the post-merge per-segment aggregate —
    equal to the oracle's recomputed merge+delete+sync iff all three
    lowerings replace/append/delete exactly and commit atomically.
    Unsupported MERGE clauses are refusal-tested in
    tests/test_catalog.py."""
    from ..catalog import lance_sql

    register(spark)
    root = _fresh_root(sf_dir, "merge")
    load(spark, sf_dir, "customer").write.format("lance").mode(
        "overwrite"
    ).save(root)
    lance_sql(
        spark,
        f"""
MERGE INTO '{root}' t USING (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 1000.00 AS DOUBLE)
           AS c_acctbal,
         c_mktsegment
  FROM '{root}' WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
         c_mktsegment
  FROM '{root}' WHERE c_custkey % 13 = 5
) s ON t.c_custkey = s.c_custkey
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
""",
    ).collect()
    lance_sql(
        spark,
        f"""
MERGE INTO '{root}' t USING (
  SELECT c_custkey FROM '{root}' WHERE c_custkey % 11 = 3
) s ON t.c_custkey = s.c_custkey
WHEN MATCHED THEN DELETE
""",
    ).collect()
    lance_sql(
        spark,
        f"""
MERGE INTO '{root}' t USING (
  SELECT c_custkey FROM '{root}' WHERE c_custkey % 3 <> 1
) s ON t.c_custkey = s.c_custkey
WHEN NOT MATCHED BY SOURCE THEN DELETE
""",
    ).collect()
    # read-back via the SQL surface's native live-row view (r11):
    # same semantics as the DS read, JVM-vectorized scan — the DML
    # entry's timed unit stays the MERGE, not the Arrow->Python
    # read-back of the result
    merged = lance_sql(spark, f"SELECT * FROM '{root}'")
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(money("c_acctbal"), "total_bal"),
            F.countDistinct("c_custkey").alias("n_keys"),
        )
        .orderBy("c_mktsegment")
    )


LANCE_MERGE_SQL = """
WITH upd AS (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 1000.00 AS DOUBLE) AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 13 = 5
),
merged AS (
  SELECT * FROM customer
  WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
  UNION ALL
  SELECT * FROM upd
),
final AS (
  SELECT * FROM merged WHERE c_custkey % 11 <> 3
),
synced AS (
  SELECT * FROM final WHERE c_custkey % 3 <> 1
)
SELECT c_mktsegment, COUNT(*) AS n_rows,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
  COUNT(DISTINCT c_custkey) AS n_keys
FROM synced GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def lance_merge_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with conditional clauses + column-level SET (r9 VERDICT
    item 2; ANSI first-match-wins semantics, one atomic commit):
    write customer as a lance dataset, then run ONE MERGE whose
    source carries every 5th key (matched candidates) plus minted
    keys from every 17th-key-remainder-2 row —

    - ``WHEN MATCHED AND t.c_acctbal < 0 THEN DELETE`` — overdrawn
      matched customers drop;
    - ``WHEN MATCHED THEN UPDATE SET c_acctbal = <t-expr>,
      c_mktsegment = lower(t.c_mktsegment)`` — the rest of the
      matched set gets a decimal-disciplined +50.00 bump and a
      case-folded segment, right-hand sides reading the OLD target
      row;
    - ``WHEN NOT MATCHED AND s.c_nationkey < 13 THEN INSERT *`` —
      only the low-nation minted keys insert.

    The hashed artifact is the post-merge per-segment aggregate —
    equal to the oracle iff clause order (delete wins over update),
    per-clause conditions, column-level SET against the old row, and
    the conditional insert filter all apply exactly."""
    from ..catalog import lance_sql

    register(spark)
    root = _fresh_root(sf_dir, "merge_cond")
    load(spark, sf_dir, "customer").write.format("lance").mode(
        "overwrite"
    ).save(root)
    lance_sql(
        spark,
        f"""
MERGE INTO '{root}' t USING (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM '{root}' WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal,
         c_mktsegment
  FROM '{root}' WHERE c_custkey % 17 = 2
) s ON t.c_custkey = s.c_custkey
WHEN MATCHED AND t.c_acctbal < 0 THEN DELETE
WHEN MATCHED THEN UPDATE SET
  c_acctbal = CAST(CAST(t.c_acctbal AS DECIMAL(18,2)) + 50.00 AS DOUBLE),
  c_mktsegment = lower(t.c_mktsegment)
WHEN NOT MATCHED AND s.c_nationkey < 13 THEN INSERT *
""",
    ).collect()
    # read-back via the SQL surface's native live-row view (r11):
    # same semantics as the DS read, JVM-vectorized scan — the DML
    # entry's timed unit stays the MERGE, not the Arrow->Python
    # read-back of the result
    merged = lance_sql(spark, f"SELECT * FROM '{root}'")
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(money("c_acctbal"), "total_bal"),
            F.countDistinct("c_custkey").alias("n_keys"),
        )
        .orderBy("c_mktsegment")
    )


LANCE_MERGE_CONDITIONAL_SQL = """
WITH merged AS (
  SELECT c_custkey, c_name, c_nationkey,
    CASE WHEN c_custkey % 5 = 0
         THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 50.00 AS DOUBLE)
         ELSE c_acctbal END AS c_acctbal,
    CASE WHEN c_custkey % 5 = 0
         THEN lower(c_mktsegment) ELSE c_mktsegment END AS c_mktsegment
  FROM customer
  WHERE NOT (c_custkey % 5 = 0 AND c_acctbal < 0)
  UNION ALL
  SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 17 = 2 AND c_nationkey < 13
)
SELECT c_mktsegment, COUNT(*) AS n_rows,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
  COUNT(DISTINCT c_custkey) AS n_keys
FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def lance_merge_insert_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE dialect completion (r11 — VERDICT r10 item 2): the two
    clause forms the reference's host engine (DuckDB) accepts that
    were previously refused — the column-list ``INSERT (col, ...)
    VALUES (expr, ...)`` (unassigned columns null-fill, VALUES are
    full Spark SQL over the source row, first-match-wins across TWO
    conditional NOT MATCHED clauses) and ``WHEN NOT MATCHED BY
    SOURCE THEN UPDATE SET`` (unmatched survivors updated from the
    OLD target row). ONE statement exercises all four branch kinds:

    - ``WHEN MATCHED`` — every 9th key gets a decimal-disciplined
      +25.00 balance bump;
    - ``WHEN NOT MATCHED AND s.c_nationkey < 10`` — low-nation
      minted keys insert THREE columns (key, upper-cased name,
      bal-10.00); nationkey/segment null-fill;
    - ``WHEN NOT MATCHED`` (unconditional, second) — remaining
      minted keys insert all five columns with segment 'MINTED';
    - ``WHEN NOT MATCHED BY SOURCE AND t.c_custkey % 2 = 0`` —
      even unmatched survivors case-fold their segment.

    The hashed artifact is the post-merge per-segment aggregate
    including a null-fill counter — equal to the oracle iff clause
    routing, null-fill, VALUES evaluation, and the by-source update
    all apply exactly."""
    from ..catalog import lance_sql

    register(spark)
    root = _fresh_root(sf_dir, "merge_iv")
    load(spark, sf_dir, "customer").write.format("lance").mode(
        "overwrite"
    ).save(root)
    lance_sql(
        spark,
        f"""
MERGE INTO '{root}' t USING (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM '{root}' WHERE c_custkey % 9 = 0
  UNION ALL
  SELECT c_custkey + 30000000, c_name, c_nationkey, c_acctbal,
         c_mktsegment
  FROM '{root}' WHERE c_custkey % 19 = 4
) s ON t.c_custkey = s.c_custkey
WHEN MATCHED THEN UPDATE SET
  c_acctbal = CAST(CAST(t.c_acctbal AS DECIMAL(18,2)) + 25.00 AS DOUBLE)
WHEN NOT MATCHED AND s.c_nationkey < 10 THEN
  INSERT (c_custkey, c_name, c_acctbal)
  VALUES (s.c_custkey, upper(s.c_name),
          CAST(CAST(s.c_acctbal AS DECIMAL(18,2)) - 10.00 AS DOUBLE))
WHEN NOT MATCHED THEN
  INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
  VALUES (s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, 'MINTED')
WHEN NOT MATCHED BY SOURCE AND t.c_custkey % 2 = 0 THEN
  UPDATE SET c_mktsegment = lower(t.c_mktsegment)
""",
    ).collect()
    # read-back via the SQL surface's native live-row view (r11):
    # same semantics as the DS read, JVM-vectorized scan — the DML
    # entry's timed unit stays the MERGE, not the Arrow->Python
    # read-back of the result
    merged = lance_sql(spark, f"SELECT * FROM '{root}'")
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(money("c_acctbal"), "total_bal"),
            F.countDistinct("c_custkey").alias("n_keys"),
            F.sum(
                F.when(F.col("c_nationkey").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_null_nation"),
        )
        .orderBy("c_mktsegment")
    )


LANCE_MERGE_INSERT_VALUES_SQL = """
WITH merged AS (
  SELECT c_custkey, c_name, c_nationkey,
    CASE WHEN c_custkey % 9 = 0
         THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 25.00 AS DOUBLE)
         ELSE c_acctbal END AS c_acctbal,
    CASE WHEN c_custkey % 9 <> 0 AND c_custkey % 2 = 0
         THEN lower(c_mktsegment) ELSE c_mktsegment END AS c_mktsegment
  FROM customer
  UNION ALL
  SELECT c_custkey + 30000000,
    CASE WHEN c_nationkey < 10 THEN upper(c_name) ELSE c_name END,
    CASE WHEN c_nationkey < 10 THEN NULL ELSE c_nationkey END,
    CASE WHEN c_nationkey < 10
         THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) - 10.00 AS DOUBLE)
         ELSE c_acctbal END,
    CASE WHEN c_nationkey < 10 THEN NULL ELSE 'MINTED' END
  FROM customer WHERE c_custkey % 19 = 4
)
SELECT c_mktsegment, COUNT(*) AS n_rows,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
  COUNT(DISTINCT c_custkey) AS n_keys,
  CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_nation
FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def lance_sql_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``INSERT INTO '<path>.lance' ...`` through the SQL surface
    (r11 — DuckDB-hosted INSERT parity, the host-engine verb the
    reference gets for free): write customer as a lance dataset,
    then run TWO INSERT statements —

    1. positional ``INSERT INTO ... SELECT`` minting every 23rd-key-
       remainder-7 row with a decimal-disciplined +5.00 bump (the
       query's generated column names are immaterial — positional
       SQL INSERT semantics);
    2. column-list ``INSERT INTO ... (c_custkey, c_name) SELECT``
       (unnamed columns null-fill; the source predicate excludes the
       first statement's minted keys so the oracle replays both
       statements against the base table).

    The hashed artifact is the per-segment aggregate incl. a
    null-fill counter — equal to the oracle iff both appends landed
    exactly once, positionally, with correct null-fill. Refusal
    matrix (arity/unknown/dup/retype/nested-write) in
    tests/test_catalog.py."""
    from ..catalog import lance_sql

    register(spark)
    root = _fresh_root(sf_dir, "sql_insert")
    load(spark, sf_dir, "customer").write.format("lance").mode(
        "overwrite"
    ).save(root)
    lance_sql(
        spark,
        f"""
INSERT INTO '{root}'
SELECT c_custkey + 40000000, c_name, c_nationkey,
       CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 5.00 AS DOUBLE),
       c_mktsegment
FROM '{root}' WHERE c_custkey % 23 = 7
""",
    ).collect()
    lance_sql(
        spark,
        f"""
INSERT INTO '{root}' (c_custkey, c_name)
SELECT c_custkey + 50000000, upper(c_name)
FROM '{root}' WHERE c_custkey % 29 = 3 AND c_custkey < 40000000
""",
    ).collect()
    ins = lance_sql(spark, f"SELECT * FROM '{root}'")
    return (
        ins.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(money("c_acctbal"), "total_bal"),
            F.countDistinct("c_custkey").alias("n_keys"),
            F.sum(
                F.when(F.col("c_nationkey").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_null_nation"),
        )
        .orderBy("c_mktsegment")
    )


LANCE_SQL_INSERT_SQL = """
WITH ins AS (
  SELECT * FROM customer
  UNION ALL
  SELECT c_custkey + 40000000, c_name, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 5.00 AS DOUBLE),
         c_mktsegment
  FROM customer WHERE c_custkey % 23 = 7
  UNION ALL
  SELECT c_custkey + 50000000, upper(c_name), NULL, NULL, NULL
  FROM customer WHERE c_custkey % 29 = 3 AND c_custkey < 40000000
)
SELECT c_mktsegment, COUNT(*) AS n_rows,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
  COUNT(DISTINCT c_custkey) AS n_keys,
  CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_nation
FROM ins GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def lance_describe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DESCRIBE '<path>.lance'`` + ``DESCRIBE HISTORY`` through
    the SQL surface (r11 — the reference's schema-introspection
    surface, rust/lib.rs:64-144, and its `_versions/` layout,
    lib.rs:26-51, as SQL verbs): write customer (v1), deletion-
    vector DELETE every 6th key (v2), positional INSERT a minted
    slice (v3), then return one row per version with live rows and
    masked deletions, UNIONed with the schema rows (version NULL,
    col_name/data_type carried in the same two string columns).
    Fragment counts are layout-dependent (write parallelism) and
    deliberately NOT part of the hashed artifact."""
    from ..catalog import lance_sql

    register(spark)
    root = _fresh_root(sf_dir, "describe")
    load(spark, sf_dir, "customer").write.format("lance").mode(
        "overwrite"
    ).save(root)
    lance_sql(
        spark, f"DELETE FROM '{root}' WHERE c_custkey % 6 = 2"
    ).collect()
    lance_sql(
        spark,
        f"INSERT INTO '{root}' SELECT c_custkey + 60000000, c_name, "
        f"c_nationkey, c_acctbal, c_mktsegment FROM '{root}' "
        f"WHERE c_custkey % 31 = 4",
    ).collect()
    hist = lance_sql(spark, f"DESCRIBE HISTORY '{root}'").select(
        F.col("version"),
        F.col("version").cast("string").alias("col_name"),
        F.col("n_rows").cast("string").alias("data_type"),
        F.col("n_deleted"),
    )
    desc = lance_sql(spark, f"DESCRIBE '{root}'").select(
        F.lit(None).cast("long").alias("version"),
        "col_name",
        "data_type",
        F.lit(None).cast("long").alias("n_deleted"),
    )
    return hist.unionByName(desc).orderBy(
        "version", "col_name"
    )


LANCE_DESCRIBE_HISTORY_SQL = """
WITH base AS (SELECT COUNT(*) AS n FROM customer),
del AS (SELECT COUNT(*) AS d FROM customer WHERE c_custkey % 6 = 2),
ins AS (
  SELECT COUNT(*) AS i FROM customer
  WHERE c_custkey % 31 = 4 AND NOT c_custkey % 6 = 2
),
hist AS (
  SELECT CAST(1 AS BIGINT) AS version, CAST(1 AS VARCHAR) AS col_name,
         CAST(n AS VARCHAR) AS data_type, CAST(0 AS BIGINT) AS n_deleted
  FROM base
  UNION ALL
  SELECT 2, '2', CAST(n - d AS VARCHAR), d FROM base, del
  UNION ALL
  SELECT 3, '3', CAST(n - d + i AS VARCHAR), d FROM base, del, ins
),
schema_rows AS (
  SELECT * FROM (VALUES
    (CAST(NULL AS BIGINT), 'c_custkey', 'bigint', CAST(NULL AS BIGINT)),
    (NULL, 'c_name', 'string', NULL),
    (NULL, 'c_nationkey', 'int', NULL),
    (NULL, 'c_acctbal', 'double', NULL),
    (NULL, 'c_mktsegment', 'string', NULL)
  ) AS t(version, col_name, data_type, n_deleted)
)
SELECT * FROM hist
UNION ALL
SELECT * FROM schema_rows
ORDER BY version, col_name
"""


def lance_sql_alter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALTER TABLE '<path>.lance' ADD COLUMNS`` + ``DROP COLUMN``
    + ``RENAME COLUMN`` through the SQL surface (r12 ADD/DROP, r13
    RENAME — the SQL verbs over the schema-evolution machinery;
    completes the DuckDB-hosted DDL ergonomics next to
    INSERT/DESCRIBE): write nation (v1), ADD COLUMNS
    note/bonus/tmp_flag (v2 — zero data IO, fragments carried by
    reference), column-list INSERT rows that POPULATE the new
    columns (v3), DROP COLUMN tmp_flag (v4 — metadata-only, name
    tombstoned against re-add while legacy fragments survive),
    RENAME COLUMN note TO annotation (v5 — metadata-only through
    the stable field ids, rust/types.rs parity: fragments keep the
    physical name, the scan resolves by id), then aggregate the
    full table per region with NULL-region (the inserted rows'
    null-filled n_regionkey) bucketed as -1 and the post-drop
    column COUNT as a hashed literal. Equal to the oracle iff
    pre-evolution rows surface typed NULLs for the added columns,
    the insert landed with the evolved schema, the drop narrowed
    the schema, AND the renamed column still serves the populated
    values (a by-name read would count 0 annotations and
    hash-mismatch). bonus values are quarter-integers (exact in
    binary), so the double SUM is order-independent. Refusal matrix
    (retype/existing/dup/unparsable/legacy-rename) in
    tests/test_catalog.py."""
    from ..catalog import lance_sql

    register(spark)
    root = _fresh_root(sf_dir, "sql_alter")
    load(spark, sf_dir, "nation").write.format("lance").mode(
        "overwrite"
    ).save(root)
    lance_sql(
        spark,
        f"ALTER TABLE '{root}' ADD COLUMNS note string, "
        f"bonus double, tmp_flag int",
    ).collect()
    lance_sql(
        spark,
        f"INSERT INTO '{root}' (n_nationkey, n_name, note, bonus) "
        f"SELECT n_nationkey + 100, lower(n_name), "
        f"concat('new-', n_name), CAST(n_nationkey AS DOUBLE) / 4 "
        f"FROM '{root}' WHERE n_nationkey < 5",
    ).collect()
    # metadata-only DROP (r12): tmp_flag tombstones out; the read
    # below must surface exactly 5 columns — n_cols is a literal
    # derived from the POST-DROP schema, so a failed drop (6
    # columns) hash-mismatches the oracle
    lance_sql(
        spark, f"ALTER TABLE '{root}' DROP COLUMN tmp_flag"
    ).collect()
    # metadata-only RENAME (r13): zero data IO, values must survive
    # under the new name via by-id resolution
    lance_sql(
        spark, f"ALTER TABLE '{root}' RENAME COLUMN note TO annotation"
    ).collect()
    # backfilled ADD (r13): the expression evaluates over EXISTING
    # rows (Lance proper's add_columns(expr)) as one rewrite
    # version — half/quarter-integer arithmetic, exact in binary
    lance_sql(
        spark,
        f"ALTER TABLE '{root}' ADD COLUMN score double AS "
        f"(coalesce(bonus, 0.0) + CAST(n_nationkey AS DOUBLE) / 2)",
    ).collect()
    # exact-valued retype (r13): int -> bigint rewrite version; the
    # column feeds the hashed n_keys/n_rows counts, so a row lost
    # or value changed by the rewrite breaks the oracle hash (the
    # aggregate output types are count-longs either way, so the
    # oracle text is unchanged)
    lance_sql(
        spark,
        f"ALTER TABLE '{root}' ALTER COLUMN n_nationkey TYPE bigint",
    ).collect()
    evolved = lance_sql(spark, f"SELECT * FROM '{root}'")
    return (
        evolved.groupBy(
            F.coalesce(F.col("n_regionkey"), F.lit(-1)).alias("region")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("annotation").alias("n_annotations"),
            F.round(F.sum("bonus"), 2).alias("total_bonus"),
            F.round(F.sum("score"), 2).alias("total_score"),
            F.countDistinct("n_nationkey").alias("n_keys"),
        )
        .withColumn(
            "n_cols", F.lit(len(evolved.columns)).cast("long")
        )
        .orderBy("region")
    )


LANCE_SQL_ALTER_SQL = """
WITH evolved AS (
  SELECT n_nationkey, n_name, n_regionkey,
         CAST(NULL AS VARCHAR) AS annotation, CAST(NULL AS DOUBLE) AS bonus
  FROM nation
  UNION ALL
  SELECT n_nationkey + 100, lower(n_name), CAST(NULL AS INT),
         concat('new-', n_name), CAST(n_nationkey AS DOUBLE) / 4
  FROM nation WHERE n_nationkey < 5
),
backfilled AS (
  SELECT *,
         COALESCE(bonus, 0.0) + CAST(n_nationkey AS DOUBLE) / 2 AS score
  FROM evolved
)
SELECT COALESCE(n_regionkey, -1) AS region,
       COUNT(*) AS n_rows,
       COUNT(annotation) AS n_annotations,
       ROUND(SUM(bonus), 2) AS total_bonus,
       ROUND(SUM(score), 2) AS total_score,
       COUNT(DISTINCT n_nationkey) AS n_keys,
       CAST(6 AS BIGINT) AS n_cols
FROM backfilled
GROUP BY 1
ORDER BY 1
"""


def lance_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance parity (lance_format.py delete_where): write
    orders, DELETE WHERE o_totalprice > 150000, read the surviving
    rows back. SQL NULL-predicate semantics (NULL keeps the row) are
    exercised by the operator's coalesce path."""
    import pyarrow.compute as pc

    from ..sources import lance_format as lf

    register(spark)
    root = _fresh_root(sf_dir, "delete")
    load(spark, sf_dir, "orders").write.format("lance").mode(
        "overwrite"
    ).save(root)
    lf.delete_where(root, pc.field("o_totalprice") > 150000.0)
    left = spark.read.format("lance").load(root)
    return (
        left.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice"), "revenue"),
        )
        .orderBy("o_orderstatus")
    )


LANCE_DELETE_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders WHERE NOT (o_totalprice > 150000.0)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def lance_sql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UPDATE '<path>.lance' SET ... WHERE ...`` through the SQL
    surface (catalog.lance_sql — completes the MERGE/DELETE/UPDATE
    DML triad, r9): one statement assigns TWO columns (a decimal-
    disciplined balance bump and a case-folded segment) for every
    matched row, lowered onto the fragment-pruned rewrite
    (maintenance.update_where_sql — only hit fragments rewrite,
    right-hand sides evaluate against the OLD row). Equal to the
    oracle's CASE-projected aggregate iff the rewrite updates exactly
    the matched rows, preserves every other row bit-for-bit, and
    commits atomically."""
    from ..catalog import lance_sql

    register(spark)
    root = _fresh_root(sf_dir, "sqlupdate")
    load(spark, sf_dir, "customer").write.format("lance").mode(
        "overwrite"
    ).save(root)
    lance_sql(
        spark,
        f"UPDATE '{root}' SET "
        f"c_acctbal = CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100.00 "
        f"AS DOUBLE), "
        f"c_mktsegment = lower(c_mktsegment) "
        f"WHERE c_nationkey % 5 = 2",
    ).collect()
    upd = lance_sql(spark, f"SELECT * FROM '{root}'")  # native view read-back (r11)
    return (
        upd.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(money("c_acctbal"), "total_bal"),
            F.countDistinct("c_custkey").alias("n_keys"),
        )
        .orderBy("c_mktsegment")
    )


LANCE_SQL_UPDATE_SQL = """
WITH upd AS (
  SELECT c_custkey, c_name, c_nationkey,
    CASE WHEN c_nationkey % 5 = 2
         THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100.00 AS DOUBLE)
         ELSE c_acctbal END AS c_acctbal,
    CASE WHEN c_nationkey % 5 = 2
         THEN lower(c_mktsegment) ELSE c_mktsegment END AS c_mktsegment
  FROM customer
)
SELECT c_mktsegment, COUNT(*) AS n_rows,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
  COUNT(DISTINCT c_custkey) AS n_keys
FROM upd GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def lance_sql_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DELETE FROM '<path>.lance' WHERE <pred>`` through the SQL
    surface (catalog.lance_sql — MERGE's companion verb, r9): two
    successive predicate deletes lower onto deletion vectors with
    the predicates evaluated by Spark SQL over fragment tasks
    (maintenance.delete_where_sql); the second delete exercises the
    per-fragment position MERGE (old mask ∪ new hits in one side
    file) and the already-deleted-rows anti-join (a row the first
    DELETE removed must not be double-counted by the second).
    Equal to the oracle's doubly-filtered aggregate iff masks merge
    exactly and scans apply them before value filters."""
    from ..catalog import lance_sql

    register(spark)
    root = _fresh_root(sf_dir, "sqldelete")
    load(spark, sf_dir, "orders").write.format("lance").mode(
        "overwrite"
    ).save(root)
    lance_sql(
        spark, f"DELETE FROM '{root}' WHERE o_totalprice > 150000.0"
    ).collect()
    lance_sql(
        spark,
        f"DELETE FROM '{root}' WHERE o_orderstatus = 'F' "
        f"AND o_totalprice > 100000.0",
    ).collect()
    left = lance_sql(spark, f"SELECT * FROM '{root}'")  # native view read-back (r11)
    return (
        left.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice"), "revenue"),
        )
        .orderBy("o_orderstatus")
    )


LANCE_SQL_DELETE_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE NOT (o_totalprice > 150000.0)
  AND NOT (o_orderstatus = 'F' AND o_totalprice > 100000.0)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def lance_delete_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector delete (lance_format.py delete_where with
    use_deletion_vectors=True — Lance proper's _deletions files):
    two successive DELETEs record row positions in side files and
    rewrite NOTHING — `files_rewritten` counts data files created
    after the initial write, and must be 0. The surviving-row
    aggregate equals the oracle's double-NOT filter iff the
    positional masks merge and apply before value filters. At
    100 TB this is the only delete shape that stays cheap:
    O(matching rows) of metadata, zero fragment IO."""
    import pyarrow.compute as pc

    from ..sources import lance_format as lf

    register(spark)
    root = _fresh_root(sf_dir, "deletevec")
    load(spark, sf_dir, "orders").repartition(4).write.format("lance").mode(
        "overwrite"
    ).save(root)
    files_v1 = {f.file for f in lf.read_manifest(root).fragments}
    lf.delete_where(
        root, pc.field("o_totalprice") > 200000.0, use_deletion_vectors=True
    )
    lf.delete_where(
        root, pc.field("o_orderstatus") == "P", use_deletion_vectors=True
    )
    man = lf.read_manifest(root)
    files_now = {f.file for f in man.fragments}
    meta = local_frame(
        spark,
        [
            (
                len(files_now - files_v1),  # data files rewritten: 0
                len(lf.list_versions(root)),  # write + 2 deletes
            )
        ],
        schema="files_rewritten int, n_versions int",
    )
    left = spark.read.format("lance").load(root)
    agg = left.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(money("o_totalprice"), "revenue"),
    )
    return agg.crossJoin(F.broadcast(meta)).orderBy("o_orderstatus")


LANCE_DELETE_VECTOR_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  CAST(0 AS INTEGER) AS files_rewritten,
  CAST(3 AS INTEGER) AS n_versions
FROM orders
WHERE NOT (o_totalprice > 200000.0) AND NOT (o_orderstatus = 'P')
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def lance_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on append (Lance's add-column capability,
    Delta mergeSchema semantics): v1 = pre-1997 orders, v2 appends
    1997+ orders WITH a new ``big_order`` flag column. Old
    fragments read the column as typed NULL; the aggregate groups
    on it, so a hash match proves null-fill, merged-schema commit,
    and filter semantics end-to-end."""
    register(spark)
    root = _fresh_root(sf_dir, "evolve")
    orders = load(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    orders.where(F.col("o_orderdate") < cut).write.format("lance").mode(
        "overwrite"
    ).save(root)
    orders.where(F.col("o_orderdate") >= cut).withColumn(
        "big_order", F.col("o_totalprice") > 150000.0
    ).write.format("lance").mode("append").option(
        "mergeSchema", "true"
    ).save(root)
    evolved = spark.read.format("lance").load(root)
    return (
        evolved.groupBy("big_order")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice"), "revenue"),
        )
        .orderBy(F.col("big_order").asc_nulls_first())
    )


LANCE_SCHEMA_EVOLUTION_SQL = """
WITH evolved AS (
  SELECT o_totalprice, NULL AS big_order
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
  UNION ALL
  SELECT o_totalprice, o_totalprice > 150000.0 AS big_order
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
)
SELECT big_order, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM evolved GROUP BY big_order ORDER BY big_order NULLS FIRST
"""


def lance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance parity (lance_format.py compact): write supplier
    across 8 small fragments, compact them into one, verify the data
    is unchanged and the fragment count collapsed — while the
    pre-compaction version stays time-travelable."""
    from ..sources import lance_format as lf

    register(spark)
    root = _fresh_root(sf_dir, "compact")
    load(spark, sf_dir, "supplier").repartition(8).write.format(
        "lance"
    ).mode("overwrite").save(root)
    before = lf.read_manifest(root)
    after = lf.compact(root, target_rows=100_000_000)
    compacted = spark.read.format("lance").load(root)
    agg = compacted.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(money("s_acctbal"), "total_bal"),
        F.countDistinct("s_suppkey").alias("n_keys"),
    )
    meta = local_frame(
        spark,
        [(len(before.fragments), len(after.fragments))],
        schema="frags_before int, frags_after int",
    )
    return agg.crossJoin(F.broadcast(meta))


LANCE_COMPACT_SQL = """
SELECT COUNT(*) AS n_rows,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
  COUNT(DISTINCT s_suppkey) AS n_keys,
  CAST(8 AS INTEGER) AS frags_before,
  CAST(1 AS INTEGER) AS frags_after
FROM supplier
"""


def lance_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered write (sources/layout.py — the OPTIMIZE
    ZORDER BY capability): lineitem is written clustered on the
    Morton key of (l_quantity, l_extendedprice), so each fragment's
    zone map covers a small rectangle of that 2-D space and the
    pushed 2-D range predicate prunes most fragments before IO
    (pruning ratio asserted in tests/test_lance_source.py). The
    returned aggregate is hash-exact vs the oracle on the original
    parquet — clustering must never change query results."""
    from ..sources.layout import write_zordered

    register(spark)
    root = _fresh_root(sf_dir, "zorder")
    write_zordered(
        load(spark, sf_dir, "lineitem"),
        root,
        cols=("l_quantity", "l_extendedprice"),
        n_fragments=16,
    )
    li = spark.read.format("lance").load(root)
    return (
        li.where(
            (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
            & (F.col("l_extendedprice") >= 20000.0)
            & (F.col("l_extendedprice") <= 40000.0)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(money("l_extendedprice"), "sum_price"),
        )
        .orderBy("l_returnflag")
    )


LANCE_ZORDER_SQL = """
SELECT l_returnflag, COUNT(*) AS n_items,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
WHERE l_quantity >= 10 AND l_quantity <= 20
  AND l_extendedprice >= 20000.0 AND l_extendedprice <= 40000.0
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def version_changes(
    spark: SparkSession, root: str, v_from: int, v_to: int
) -> DataFrame:
    """Full CDC between two committed versions — the change feed the
    append-only ``begin_version`` reader (lance_version_diff) cannot
    give once DELETEs exist: every dataset column plus a
    ``_change_type`` column ('insert' | 'delete').

    Granularity contract (file-based CDF without per-row id
    tracking, Delta-CDF-style): rows of fragments ADDED between the
    versions surface as inserts (minus v_to's deletion mask); rows
    of fragments REMOVED surface as deletes (as of v_from's mask);
    rows NEWLY MASKED by deletion vectors on carried fragments
    surface as row-exact deletes. A REWRITE (UPDATE/upsert/compact)
    therefore surfaces as fragment-level delete+insert pairs — the
    standard file-CDF semantics. Scale shape: scans ONLY changed
    fragments; mask diffs are the worker-side joins of
    maintenance._join_masks; nothing row-sized touches the
    driver. Schema evolution: all scans read with v_to's committed
    schema (older files null-fill)."""
    from ..sources import lance_format as lf
    from ..sources.maintenance import (
        _anti_join_masks,
        _committed_schema,
        _join_masks,
    )

    man_a = lf.read_manifest(root, v_from)
    man_b = lf.read_manifest(root, v_to)
    # _tagged reads fragment parquet by CURRENT name (r13 guard)
    lf.require_physical_identity(man_a, "version_changes")
    lf.require_physical_identity(man_b, "version_changes")
    committed = _committed_schema(man_b)

    from ..sources import iolayer as iol

    def _tagged(frags):
        return (
            spark.read.schema(committed)
            .parquet(
                *[
                    iol.spark_read_path(os.path.join(root, f.file))
                    for f in frags
                ]
            )
            .withColumn("__file", F.col("_metadata.file_name"))
            .withColumn("__pos", F.col("_metadata.row_index"))
        )

    def _live(frags):
        return _anti_join_masks(spark, root, _tagged(frags), frags)

    files_a = {f.file for f in man_a.fragments}
    files_b = {f.file for f in man_b.fragments}
    added = [f for f in man_b.fragments if f.file not in files_a]
    removed = [f for f in man_a.fragments if f.file not in files_b]
    cols = [f.name for f in committed.fields]
    parts = []
    if added:
        parts.append(
            _live(added)
            .select(*cols)
            .withColumn("_change_type", F.lit("insert"))
        )
    if removed:
        parts.append(
            _live(removed)
            .select(*cols)
            .withColumn("_change_type", F.lit("delete"))
        )
    # carried fragments whose mask GREW: newly masked positions are
    # row-exact deletes (masks only ever grow outside rewrites)
    a_by_file = {f.file: f for f in man_a.fragments}
    grown = [
        f
        for f in man_b.fragments
        if f.file in files_a
        and f.num_deleted > a_by_file[f.file].num_deleted
    ]
    if grown:
        masked_b = _join_masks(spark, root, _tagged(grown), grown, "left_semi")
        parts.append(
            _anti_join_masks(
                spark, root, masked_b, [a_by_file[f.file] for f in grown]
            )
            .select(*cols)
            .withColumn("_change_type", F.lit("delete"))
        )
    if not parts:
        from pyspark.sql.types import StringType, StructField, StructType

        empty = StructType(
            committed.fields + [StructField("_change_type", StringType())]
        )
        return local_frame(spark, [], empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def lance_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query for ``version_changes`` (full CDC incl. deletes
    — beyond lance_version_diff's append-only window): write
    customer (v1), deletion-vector DELETE every 7th key (v2),
    SQL-INSERT a minted slice (v3); the change feed v1 -> v3 must
    hold exactly the masked rows as 'delete' (row-exact: masks, not
    rewrites) and the appended fragments' rows as 'insert'. Hashed
    artifact: per-(change_type, segment) aggregate."""
    from ..catalog import lance_sql

    register(spark)
    root = _fresh_root(sf_dir, "cdc")
    load(spark, sf_dir, "customer").write.format("lance").mode(
        "overwrite"
    ).save(root)
    lance_sql(
        spark, f"DELETE FROM '{root}' WHERE c_custkey % 7 = 1"
    ).collect()
    lance_sql(
        spark,
        f"INSERT INTO '{root}' SELECT c_custkey + 70000000, c_name, "
        f"c_nationkey, c_acctbal, c_mktsegment FROM '{root}' "
        f"WHERE c_custkey % 37 = 5",
    ).collect()
    changes = version_changes(spark, root, 1, 3)
    return (
        changes.groupBy("_change_type", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(money("c_acctbal"), "total_bal"),
            F.countDistinct("c_custkey").alias("n_keys"),
        )
        .orderBy("_change_type", "c_mktsegment")
    )


LANCE_CDC_DELETES_SQL = """
WITH changes AS (
  SELECT 'delete' AS _change_type, c_mktsegment, c_acctbal, c_custkey
  FROM customer WHERE c_custkey % 7 = 1
  UNION ALL
  SELECT 'insert', c_mktsegment, c_acctbal, c_custkey + 70000000
  FROM customer WHERE c_custkey % 37 = 5 AND NOT c_custkey % 7 = 1
)
SELECT _change_type, c_mktsegment, COUNT(*) AS n_rows,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
  COUNT(DISTINCT c_custkey) AS n_keys
FROM changes GROUP BY _change_type, c_mktsegment
ORDER BY _change_type, c_mktsegment
"""


def lance_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC / incremental read (Delta change-data-feed analogue over
    the Lance version model): ``.option("begin_version", N)`` scans
    ONLY the fragments appended after version N — the file-name diff
    of two immutable-fragment manifests is exactly the row diff for
    append-only history (rewrites in between fail loudly). Here:
    v1 = orders before 1997, v2 += 1997, v3 += rest; the diff
    1→latest must equal orders >= 1997-01-01 — at 100 TB an
    incremental consumer reads only the new data, never the table."""
    register(spark)
    root = _fresh_root(sf_dir, "versiondiff")
    orders = load(spark, sf_dir, "orders")
    c97 = F.lit("1997-01-01").cast("timestamp_ntz")
    c99 = F.lit("1999-01-01").cast("timestamp_ntz")
    orders.where(F.col("o_orderdate") < c97).write.format("lance").mode(
        "overwrite"
    ).save(root)
    orders.where(
        (F.col("o_orderdate") >= c97) & (F.col("o_orderdate") < c99)
    ).write.format("lance").mode("append").save(root)
    orders.where(F.col("o_orderdate") >= c99).write.format("lance").mode(
        "append"
    ).save(root)
    changes = (
        spark.read.format("lance").option("begin_version", 1).load(root)
    )
    return (
        changes.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice"), "revenue"),
        )
        .orderBy("o_year")
    )


LANCE_VERSION_DIFF_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY 1 ORDER BY 1
"""


def lance_native_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a GENUINE Lance v2 dataset — real ``.lance`` data files
    (plain encodings, byte-identical layout to lance 0.32.1's writer;
    proven in tests against the reference's own fixture) plus a
    protobuf manifest — then scan it back through the native reader
    and aggregate. Parity: the reference's COPY TO
    (cpp/lance_copy.cpp:72-249 → rust/writer.rs:1-54). The write is
    distributed: one fragment per input partition, written
    executor-side via mapInArrow; the driver only commits the
    manifest."""
    from ..sources.lance_native_write import write_native_dataset

    register(spark)
    root = _fresh_root(sf_dir, "nativewrite")
    sup = load(spark, sf_dir, "supplier").repartition(4)
    write_native_dataset(sup, root)
    nat = spark.read.format("lance").load(root)
    return (
        nat.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(money("s_acctbal")).cast("double").alias("total_bal"),
            F.min("s_name").alias("first_name"),
        )
        .orderBy("s_nationkey")
    )


LANCE_NATIVE_WRITE_SQL = """
SELECT s_nationkey,
  COUNT(*) AS n_suppliers,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
  MIN(s_name) AS first_name
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


def lance_scalar_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted SCALAR index (Lance proper's BTree/`_indices/`
    family, sources/scalar_index.py): documents are written in
    doc_id order — so ``lang`` is NOT clustered and zone maps
    cannot prune a lang predicate — then a scalar index on ``lang``
    maps each value to exactly the fragments containing it, and the
    scan plans only those (fragment allowlist; pruning + staleness
    asserted in tests/test_scalar_index.py). Hash-exact vs the
    oracle on the original parquet: the index changes IO, never
    answers."""
    from ..sources.scalar_index import build_scalar_index, scalar_index_scan

    register(spark)
    root = _fresh_root(sf_dir, "scalaridx")
    # 8 fragments in doc_id order: every fragment holds most langs,
    # EXCEPT the planted rare value below
    docs = load(spark, sf_dir, "documents")
    marked = docs.withColumn(
        "lang_t",
        F.when(F.col("doc_id") % 1000 == 7, F.lit("xx")).otherwise(
            F.col("lang")
        ),
    ).drop("lang")
    marked.repartitionByRange(8, "doc_id").write.format("lance").mode(
        "overwrite"
    ).save(root)
    build_scalar_index(spark, root, "lang_t")
    hits = scalar_index_scan(spark, root, "lang_t", eq="xx")
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("source")
    )


LANCE_SCALAR_INDEX_SQL = """
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id % 1000 = 7
GROUP BY source ORDER BY source
"""


def lance_bloom_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time BLOOM side files (lance_format.build_bloom,
    `.option("bloom_columns", ...)`): equality pruning for columns
    whose values are uncorrelated with layout, where zone maps are
    useless — recorded WITH each fragment, so unlike an external
    index they can never go stale. documents are written in doc_id
    order with blooms on a per-doc fingerprint; the point lookup
    plans only the fragment(s) whose bloom admits the probe value
    (pruning asserted in tests/test_bloom.py). Hash-exact vs the
    oracle on the original parquet."""
    register(spark)
    root = _fresh_root(sf_dir, "bloom")
    docs = load(spark, sf_dir, "documents")
    # per-doc fingerprint: md5 of doc_id — unique, unclustered probes
    marked = docs.withColumn("fp", F.md5(F.col("doc_id").cast("string")))
    (
        marked.repartitionByRange(8, "doc_id")
        .write.format("lance")
        .option("bloom_columns", "fp")
        .mode("overwrite")
        .save(root)
    )
    import hashlib

    probe = hashlib.md5(b"7").hexdigest()  # doc_id 7's fingerprint
    hit = (
        spark.read.format("lance")
        .load(root)
        .where(F.col("fp") == probe)
    )
    return hit.select("doc_id", "source", "n_chars").orderBy("doc_id")


LANCE_BLOOM_SQL = """
SELECT doc_id, source, n_chars
FROM documents WHERE doc_id = 7 ORDER BY doc_id
"""


def lance_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version retention (lance_format.cleanup_old_versions — Lance
    proper's cleanup_old_versions): build 3 versions (two appends +
    a rewriting delete that orphans both original fragments), vacuum
    to keep_last=1, and read the head back — results must equal the
    oracle's direct computation of the final state (vacuum must be
    invisible to the retained version), with the deterministic
    retention counters emitted alongside. Reads of vacuumed versions
    fail loudly (asserted in tests/test_lance_source.py)."""
    import pyarrow.compute as pc

    from ..sources import lance_format as lf

    register(spark)
    root = _fresh_root(sf_dir, "vacuum")
    docs = load(spark, sf_dir, "documents")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.format(
        "lance"
    ).mode("overwrite").save(root)  # v1: one fragment
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.format(
        "lance"
    ).mode("append").save(root)  # v2: + one fragment
    # v3: doc_id < 20 hits BOTH parities at any SF -> both fragments
    # rewritten, orphaning the two originals once v1/v2 are dropped
    lf.delete_where(root, pc.field("doc_id") < 20)
    # no concurrent writer can exist on this fresh root: reclaim
    # immediately (production calls keep the default grace window)
    stats = lf.cleanup_old_versions(root, keep_last=1, older_than_seconds=0)
    head = spark.read.format("lance").load(root)
    return (
        head.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .withColumn("versions_removed", F.lit(stats["versions_removed"]))
        .withColumn("files_removed", F.lit(stats["files_removed"]))
        .withColumn("versions_left", F.lit(len(lf.list_versions(root))))
    )


LANCE_VACUUM_SQL = """
SELECT COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       2 AS versions_removed, 2 AS files_removed, 1 AS versions_left
FROM documents
WHERE doc_id >= 20
"""


def lance_stats_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate pushdown from manifest statistics
    (sources/stats.py): COUNT(*) and MIN/MAX on zone-mapped columns
    served WITHOUT opening any fragment file. The query writes
    orders as a multi-fragment dataset, then DELETES every data file
    — the manifest-only aggregation still answers, so a hash match
    against the oracle's real scan of the original parquet is also a
    proof of zero fragment IO (any scan attempt would crash on the
    missing files). The reference inherits this from DuckDB's
    parquet metadata pruning; here the manifest is the metadata
    layer."""
    from ..sources import stats as st

    register(spark)
    root = _fresh_root(sf_dir, "statspush")
    load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).repartition(4).write.format("lance").mode("overwrite").save(root)
    # destroy the data files: only the manifest (+ zone maps) remains
    data_dir = os.path.join(root, "data")
    for f in os.listdir(data_dir):
        os.remove(os.path.join(data_dir, f))
    return st.manifest_aggregates(
        spark, root, ["o_custkey", "o_totalprice"]
    )


LANCE_STATS_PUSHDOWN_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
       CAST(MIN(o_custkey) AS BIGINT) AS min_o_custkey,
       CAST(MAX(o_custkey) AS BIGINT) AS max_o_custkey,
       MIN(o_totalprice) AS min_o_totalprice,
       MAX(o_totalprice) AS max_o_totalprice
FROM orders
"""


def lance_sql_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL write-path parity (reference cpp/lance_copy.cpp:1-251 —
    the COPY function: ``COPY (SELECT ...) TO 'x.lance' (FORMAT
    lance)``): write orders into a dataset, COPY a filtered
    projection into a second dataset in pure SQL, COPY a second
    disjoint slice with MODE 'append', then read the result back
    through lance_sql and aggregate. Hash-equal to the oracle's
    direct computation iff the SQL write path (parse → read-rewrite
    → lance write → commit) is lossless for both modes, with the
    reported rows_copied counts carried into the hash."""
    from ..catalog import lance_sql

    register(spark)
    src = _fresh_root(sf_dir, "sqlcopy_src")
    dst = _fresh_root(sf_dir, "sqlcopy_dst")
    load(spark, sf_dir, "orders").write.format("lance").mode(
        "overwrite"
    ).save(src)
    c1 = lance_sql(
        spark,
        f"""COPY (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM '{src}'
          WHERE o_totalprice >= 150000
        ) TO '{dst}' (FORMAT LANCE)""",
    )
    c2 = lance_sql(
        spark,
        f"""COPY (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM '{src}'
          WHERE o_totalprice < 50000
        ) TO '{dst}' (FORMAT LANCE, MODE 'append')""",
    )
    agg = lance_sql(
        spark,
        f"""SELECT o_orderstatus, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue
        FROM '{dst}' GROUP BY o_orderstatus""",
    )
    total = (
        c1.unionAll(c2)
        .agg(F.sum("rows_copied").cast("bigint").alias("rows_copied"))
    )
    return agg.crossJoin(F.broadcast(total)).orderBy("o_orderstatus")


LANCE_SQL_COPY_SQL = """
WITH copied AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_totalprice >= 150000 OR o_totalprice < 50000
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM copied) AS rows_copied
FROM copied
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def _pruned_take(path: str, cols: list[str], phys: list[int]):
    """Row-group-pruned positional take (r15, guide §6 point-read
    posture): the previous ``pq.read_table(...).take(phys)`` decoded
    the WHOLE fragment's columns to take a handful of positions.
    Read the footer, map each physical position to its row group,
    and decode ONLY the hit groups — IO proportional to row groups
    hit, never to fragment size. ``phys`` is ascending (take_rows
    builds it from sorted local positions by a monotone deletion
    shift) and ``sel`` is emitted in phys order over the
    concatenated hit groups, so the row order — and every byte — is
    identical to the full-file take. Runs inside the fetch task."""
    from bisect import bisect_right

    from ..sources import iolayer as _iol

    with _iol.parquet_file(path) as pf:
        md = pf.metadata
        offs = [0]
        for g in range(md.num_row_groups):
            offs.append(offs[-1] + md.row_group(g).num_rows)
        hit = sorted({bisect_right(offs, p) - 1 for p in phys})
        base = {}
        run = 0
        for g in hit:
            base[g] = run - offs[g]
            run += offs[g + 1] - offs[g]
        sel = [base[bisect_right(offs, p) - 1] + p for p in phys]
        return pf.read_row_groups(hit, columns=cols).take(sel)


def take_rows(
    spark: SparkSession,
    root: str,
    indices: list[int],
    columns: list[str] | None = None,
) -> DataFrame:
    """Lance's ``Dataset::take`` (rust/lib.rs dataset surface): fetch
    rows by GLOBAL POSITION in the committed fragment order — the
    point-read primitive serving feature-store lookups and ANN
    rescore fetches.

    Scale shape: the index→fragment mapping is pure MANIFEST
    arithmetic on the driver (no data IO); only the HIT fragments
    become tasks, each decoding one fragment (column-pruned) and
    taking its local positions worker-side — IO is proportional to
    fragments hit, never to the corpus.

    Indices address LOGICAL (live) positions: rows hidden by
    deletion vectors don't count, matching Lance proper's
    ``Dataset::take`` over a dataset with deletes. The logical →
    physical remap runs INSIDE each hit fragment's task (r11 —
    closes the r10 verdict's documented driver bound): the worker
    reads its own fragment's deletion side file and two-pointer
    walks it, so the driver cost is manifest arithmetic only —
    independent of how many deletions the hit fragments carry
    (previously O(deletions in hit fragments) driver-side)."""
    import json as _json

    from pyspark.sql.types import StructType

    from ..sources import lance_format as lf

    man = lf.read_manifest(root)
    # worker fetches read parquet columns by CURRENT name (r13
    # guard: a renamed physical column would silently drop out)
    lf.require_physical_identity(man, "take_rows")
    schema = StructType.fromJson(_json.loads(man.schema_json))
    if columns is not None:
        missing = set(columns) - set(schema.fieldNames())
        if missing:
            raise lf.LanceDatasetError(
                f"take_rows: unknown columns {sorted(missing)}"
            )
        schema = StructType(
            [f for f in schema.fields if f.name in set(columns)]
        )
    n_live = sum(f.num_rows - f.num_deleted for f in man.fragments)
    bad = [i for i in indices if i < 0 or i >= n_live]
    if bad:
        raise lf.LanceDatasetError(
            f"take_rows: indices {bad[:5]} out of range [0, {n_live}) "
            "(live rows)"
        )
    # driver-side mapping: global LIVE index -> (fragment, LOCAL
    # live position) — pure arithmetic over the manifest's live
    # counts, no IO. The live -> physical remap for dv fragments
    # happens in the worker (fetch below): the task reads its own
    # fragment's deletion list, so driver memory never depends on
    # deletion counts.
    per_frag: dict[str, tuple[list[int], str | None]] = {}
    start = 0
    for frag in man.fragments:
        live = frag.num_rows - frag.num_deleted
        end = start + live
        local = sorted(i - start for i in indices if start <= i < end)
        if local:
            per_frag[frag.file] = (local, frag.deletion_file)
        start = end
    if not per_frag:
        return local_frame(spark, [], schema)
    tasks = local_frame(
        spark,
        [(f, p, d) for f, (p, d) in per_frag.items()],
        "file string, positions array<long>, dfile string",
    ).repartition(len(per_frag))
    cols = [f.name for f in schema.fields]

    def fetch(batches):
        import json as __json

        import pyarrow.parquet as _pq

        for pdf in batches:
            for file, positions, dfile in zip(
                pdf["file"], pdf["positions"], pdf["dfile"]
            ):
                phys = [int(p) for p in positions]
                if dfile is not None:
                    # the p-th LIVE row sits at physical position
                    # p + (#deletions at or before it): two-pointer
                    # walk over the sorted deletion list, in-task
                    from lance_duckdb_spark.sources import (
                        iolayer as _iol,
                    )

                    dels = sorted(
                        __json.loads(
                            _iol.read_text(os.path.join(root, dfile))
                        )["positions"]
                    )
                    out, di, shift = [], 0, 0
                    for lp in phys:
                        p = lp + shift
                        while di < len(dels) and dels[di] <= p:
                            di += 1
                            shift += 1
                            p = lp + shift
                        out.append(p)
                    phys = out
                from lance_duckdb_spark.operators.lance_ops import (
                    _pruned_take,
                )

                tbl = _pruned_take(
                    os.path.join(root, file), cols, phys
                )
                yield tbl.to_pandas()

    return tasks.mapInPandas(fetch, schema)


def lance_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: the take() point-read served over a deterministic layout —
    orders sorted by o_orderkey into one fragment, so global position
    == sort rank and the DuckDB oracle replicates it with a
    row_number. The multi-fragment pruning behavior (only hit
    fragments become tasks) is asserted in tests/test_lance_take.py.

    The staged dataset is REUSED when already present and current
    (deterministic content — same sort, same row count, version 1):
    take_rows pins fragment FILE NAMES into its task frame at
    plan-construction time, so a later call that rmtree'd and
    rebuilt the dataset would leave an earlier plan's re-execution
    reading deleted files (bench replay does exactly that, r9).
    The other lance_* queries re-plan their reads per action, so
    their fresh-root rebuilds stay safe."""
    import json as _json

    from ..sources import lance_format as lf
    from pyspark.sql.types import StructType

    register(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(_WORKDIR, tag, "take.lance")
    orders = load(spark, sf_dir, "orders")
    reuse = False
    try:
        import pyarrow.parquet as _pq

        # source row count from the parquet FOOTER, not
        # orders.count(): the reuse check ran a full Spark action on
        # every serving call — ~a third of the steady-state serving
        # time for a metadata question (r12 verdict item 7)
        n_src = _pq.read_metadata(
            os.path.join(sf_dir, "orders.parquet")
        ).num_rows
        m = lf.read_manifest(root)
        reuse = (
            m.version == 1
            and sum(f.num_rows for f in m.fragments) == n_src
            and StructType.fromJson(_json.loads(m.schema_json))
            == orders.schema
        )
    except Exception:
        reuse = False
    if not reuse:
        root = _fresh_root(sf_dir, "take")
        (
            orders.orderBy("o_orderkey")
            .coalesce(1)
            .write.format("lance")
            .mode("overwrite")
            .save(root)
        )
    taken = take_rows(
        spark,
        root,
        list(TAKE_POSITIONS),
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    return taken.select(
        "o_orderkey",
        "o_custkey",
        money("o_totalprice").cast("double").alias("total_price"),
    ).orderBy("o_orderkey")


def lance_take_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 over a DELETED dataset (r9 VERDICT item 7): positional
    take must address LOGICAL (live) row positions — rows hidden by
    deletion vectors don't count, matching Lance proper's
    ``Dataset::take`` after deletes. The staged dataset is orders
    sorted by o_orderkey in TWO fragments (an overwrite + an append,
    split at key 3000, so the manifest order continues the sort and
    the cross-fragment live-offset arithmetic is exercised), then
    ``DELETE WHERE o_orderkey % 7 = 1`` masks rows in both fragments
    via deletion vectors. The oracle is a row_number over the
    surviving rows — hash-equal iff the driver-side logical→physical
    remap lands on exactly the right physical rows.

    Reused-when-current like lance_take (take_rows pins fragment
    file names at plan-construction; bench replay re-executes old
    plans): the DELETE re-run on an already-deleted dataset matches
    nothing (masked rows never re-match) and commits no version, so
    reuse is idempotent."""
    import json as _json

    from pyspark.sql.types import StructType

    from ..catalog import lance_sql
    from ..sources import lance_format as lf

    register(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(_WORKDIR, tag, "take_dv.lance")
    orders = load(spark, sf_dir, "orders")
    reuse = False
    try:
        m = lf.read_manifest(root)
        reuse = (
            sum(f.num_rows for f in m.fragments) == orders.count()
            and StructType.fromJson(_json.loads(m.schema_json))
            == orders.schema
        )
    except Exception:
        reuse = False
    if not reuse:
        shutil.rmtree(root, ignore_errors=True)
        srt = orders.orderBy("o_orderkey")
        srt.where(F.col("o_orderkey") < 3000).coalesce(1).write.format(
            "lance"
        ).mode("overwrite").save(root)
        srt.where(F.col("o_orderkey") >= 3000).coalesce(1).write.format(
            "lance"
        ).mode("append").save(root)
    lance_sql(
        spark, f"DELETE FROM '{root}' WHERE o_orderkey % 7 = 1"
    ).collect()
    taken = take_rows(
        spark,
        root,
        list(TAKE_POSITIONS),
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    return taken.select(
        "o_orderkey",
        "o_custkey",
        money("o_totalprice").cast("double").alias("total_price"),
    ).orderBy("o_orderkey")


TAKE_POSITIONS = (0, 7, 42, 999, 1234)

LANCE_TAKE_DV_SQL = f"""
WITH ranked AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
  FROM orders WHERE o_orderkey % 7 <> 1
)
SELECT o_orderkey, o_custkey,
  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
FROM ranked
WHERE pos IN ({", ".join(str(p) for p in TAKE_POSITIONS)})
ORDER BY o_orderkey
"""

LANCE_TAKE_SQL = f"""
WITH ranked AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
  FROM orders
)
SELECT o_orderkey, o_custkey,
  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
FROM ranked
WHERE pos IN ({", ".join(str(p) for p in TAKE_POSITIONS)})
ORDER BY o_orderkey
"""


QUERIES = {
    "lance_take": lance_take,
    "lance_take_dv": lance_take_dv,
    "lance_sql_copy": lance_sql_copy,
    "lance_stats_pushdown": lance_stats_pushdown,
    "lance_roundtrip": lance_roundtrip,
    "lance_scalar_index": lance_scalar_index,
    "lance_bloom_pruning": lance_bloom_pruning,
    "lance_vacuum": lance_vacuum,
    "lance_native_write": lance_native_write,
    "lance_version_diff": lance_version_diff,
    "lance_time_travel": lance_time_travel,
    "lance_pushdown_scan": lance_pushdown_scan,
    "lance_dataset_stats": lance_dataset_stats,
    "lance_native_read": lance_native_read,
    "lance_upsert": lance_upsert,
    "lance_merge": lance_merge,
    "lance_merge_conditional": lance_merge_conditional,
    "lance_merge_insert_values": lance_merge_insert_values,
    "lance_sql_insert": lance_sql_insert,
    "lance_describe_history": lance_describe_history,
    "lance_sql_alter": lance_sql_alter,
    "lance_cdc_deletes": lance_cdc_deletes,
    "lance_sql_delete": lance_sql_delete,
    "lance_sql_update": lance_sql_update,
    "lance_delete": lance_delete,
    "lance_delete_vector": lance_delete_vector,
    "lance_compact": lance_compact,
    "lance_zorder_pruning": lance_zorder_pruning,
    "lance_schema_evolution": lance_schema_evolution,
}

ORACLE = {
    "lance_take": LANCE_TAKE_SQL,
    "lance_take_dv": LANCE_TAKE_DV_SQL,
    "lance_sql_copy": LANCE_SQL_COPY_SQL,
    "lance_stats_pushdown": LANCE_STATS_PUSHDOWN_SQL,
    "lance_roundtrip": LANCE_ROUNDTRIP_SQL,
    "lance_scalar_index": LANCE_SCALAR_INDEX_SQL,
    "lance_bloom_pruning": LANCE_BLOOM_SQL,
    "lance_vacuum": LANCE_VACUUM_SQL,
    "lance_native_write": LANCE_NATIVE_WRITE_SQL,
    "lance_version_diff": LANCE_VERSION_DIFF_SQL,
    "lance_time_travel": LANCE_TIME_TRAVEL_SQL,
    "lance_pushdown_scan": LANCE_PUSHDOWN_SQL,
    "lance_dataset_stats": LANCE_DATASET_STATS_SQL,
    "lance_native_read": LANCE_NATIVE_READ_SQL,
    "lance_upsert": LANCE_UPSERT_SQL,
    "lance_merge": LANCE_MERGE_SQL,
    "lance_merge_conditional": LANCE_MERGE_CONDITIONAL_SQL,
    "lance_merge_insert_values": LANCE_MERGE_INSERT_VALUES_SQL,
    "lance_sql_insert": LANCE_SQL_INSERT_SQL,
    "lance_describe_history": LANCE_DESCRIBE_HISTORY_SQL,
    "lance_sql_alter": LANCE_SQL_ALTER_SQL,
    "lance_cdc_deletes": LANCE_CDC_DELETES_SQL,
    "lance_sql_delete": LANCE_SQL_DELETE_SQL,
    "lance_sql_update": LANCE_SQL_UPDATE_SQL,
    "lance_delete": LANCE_DELETE_SQL,
    "lance_delete_vector": LANCE_DELETE_VECTOR_SQL,
    "lance_compact": LANCE_COMPACT_SQL,
    "lance_zorder_pruning": LANCE_ZORDER_SQL,
    "lance_schema_evolution": LANCE_SCHEMA_EVOLUTION_SQL,
}
