"""Dataset-attached FTS (r14): an inverted index living under the
lance root (`_indexes/fts`) pinned to the dataset version it
indexed, which buys text retrieval the same serving ladder the
vector indexes got this round — deletion-aware serving, append/
rewrite refusals — plus the `match_bm25` SQL spelling DuckDB's FTS
extension gives its users. Covered here:

- build_fts_index_for_dataset + search_bm25_dataset equals the
  frame-based build/search on the same corpus;
- deletion-only divergence serves live (deleted docs vanish,
  statistics stay index-time — the Lucene deleted-docs contract);
- appends refuse toward an extend, allow_stale serves the snapshot;
- WHERE/filter pre-filters (best k qualifying live docs);
- the match_bm25 SQL sugar end-to-end with its refusal matrix.
"""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from lance_duckdb_spark.catalog import lance_sql
from lance_duckdb_spark.operators.fts import (
    QUERY_TERMS,
    build_fts_index,
    build_fts_index_for_dataset,
    search_bm25,
    search_bm25_dataset,
)
from lance_duckdb_spark.sources import lance_format as lf
from lance_duckdb_spark.sources.datasource import register
from lance_duckdb_spark.sources.vector_index import StaleIndexError
from lance_duckdb_spark.tables import load


@pytest.fixture()
def docs_root(spark, sf_dir):
    root = f"/tmp/lance_duckdb_spark/test_ftsds_{uuid.uuid4().hex[:8]}.lance"
    register(spark)
    docs = load(spark, sf_dir, "documents")
    docs.select("doc_id", "text", "lang").write.format("lance").mode(
        "overwrite"
    ).save(root)
    build_fts_index_for_dataset(spark, root)
    yield root
    shutil.rmtree(root, ignore_errors=True)


TERMS = list(QUERY_TERMS)


def test_dataset_search_matches_frame_search(spark, sf_dir, docs_root, tmp_path):
    got = search_bm25_dataset(spark, docs_root, TERMS, k=10).collect()
    idx = str(tmp_path / "fts_frame")
    build_fts_index(
        spark,
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        idx,
    )
    want = search_bm25(spark, idx, TERMS, k=10).collect()
    key = lambda rows: [(r["doc_id"], r["score"]) for r in rows]
    assert key(got) == key(want)


def test_dataset_search_after_delete_serves_live(spark, docs_root):
    before = search_bm25_dataset(spark, docs_root, TERMS, k=10).collect()
    assert before
    victims = [int(r["doc_id"]) for r in before[:3]]
    lance_sql(
        spark,
        f"DELETE FROM '{docs_root}' WHERE doc_id IN "
        f"({', '.join(map(str, victims))})",
    ).collect()
    after = search_bm25_dataset(spark, docs_root, TERMS, k=10).collect()
    assert after, "post-delete search returned nothing"
    assert all(int(r["doc_id"]) not in victims for r in after)
    # allow_stale: the snapshot — deleted docs reappear
    stale = search_bm25_dataset(
        spark, docs_root, TERMS, k=10, allow_stale=True
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in stale] == [
        (r["doc_id"], r["score"]) for r in before
    ]


def test_dataset_search_append_refuses(spark, docs_root):
    spark.createDataFrame(
        [(99_000_001, "spark merge scan appended", "en")],
        "doc_id long, text string, lang string",
    ).write.format("lance").mode("append").save(docs_root)
    with pytest.raises(StaleIndexError, match="appended"):
        search_bm25_dataset(spark, docs_root, TERMS, k=10)


def test_dataset_search_filter_prefilters(spark, docs_root):
    langs = {
        int(r["doc_id"]): r["lang"]
        for r in spark.read.format("lance")
        .load(docs_root)
        .select("doc_id", "lang")
        .collect()
    }
    got = search_bm25_dataset(
        spark, docs_root, TERMS, k=10, filter="lang = 'en'"
    ).collect()
    assert got
    assert all(langs[int(r["doc_id"])] == "en" for r in got)


def test_match_bm25_sql_end_to_end(spark, docs_root):
    q = " ".join(TERMS)
    got = lance_sql(
        spark,
        f"SELECT doc_id, match_bm25(text, '{q}') AS score "
        f"FROM '{docs_root}' ORDER BY score DESC LIMIT 10",
    ).collect()
    want = search_bm25_dataset(spark, docs_root, TERMS, k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    # WHERE rides as the pre-filter
    filtered = lance_sql(
        spark,
        f"SELECT doc_id, match_bm25(text, '{q}') AS score "
        f"FROM '{docs_root}' WHERE lang = 'en' "
        f"ORDER BY score DESC LIMIT 10",
    ).collect()
    want_f = search_bm25_dataset(
        spark, docs_root, TERMS, k=10, filter="lang = 'en'"
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in filtered] == [
        (r["doc_id"], r["score"]) for r in want_f
    ]


def test_match_bm25_sql_refusals(spark, sf_dir, docs_root):
    # no dataset-attached index
    root = f"/tmp/lance_duckdb_spark/test_ftsds_noidx_{uuid.uuid4().hex[:8]}.lance"
    try:
        load(spark, sf_dir, "documents").select(
            "doc_id", "text"
        ).write.format("lance").mode("overwrite").save(root)
        with pytest.raises(lf.LanceDatasetError, match="dataset-attached"):
            lance_sql(
                spark,
                f"SELECT doc_id, match_bm25(text, 'spark') AS s "
                f"FROM '{root}' ORDER BY s DESC LIMIT 5",
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    # wrong columns / empty query / bad shape
    with pytest.raises(lf.LanceDatasetError, match="covers column"):
        lance_sql(
            spark,
            f"SELECT doc_id, match_bm25(lang, 'spark') AS s "
            f"FROM '{docs_root}' ORDER BY s DESC LIMIT 5",
        )
    with pytest.raises(lf.LanceDatasetError, match="id column"):
        lance_sql(
            spark,
            f"SELECT lang, match_bm25(text, 'spark') AS s "
            f"FROM '{docs_root}' ORDER BY s DESC LIMIT 5",
        )
    with pytest.raises(lf.LanceDatasetError, match="empty"):
        lance_sql(
            spark,
            f"SELECT doc_id, match_bm25(text, '') AS s "
            f"FROM '{docs_root}' ORDER BY s DESC LIMIT 5",
        )
    with pytest.raises(lf.LanceDatasetError, match="FTS SQL serving"):
        lance_sql(
            spark,
            f"SELECT doc_id, match_bm25(text, 'spark') AS s "
            f"FROM '{docs_root}' ORDER BY s ASC LIMIT 5",
        )
    # a literal naming match_bm25 must not hijack a generic query
    n = lance_sql(
        spark,
        f"SELECT COUNT(*) AS n FROM '{docs_root}' "
        f"WHERE 'match_bm25(' <> 'x'",
    ).collect()[0]["n"]
    assert n > 0


def test_lance_sql_fts_refuses_quotes(spark, tmp_path, monkeypatch):
    """lance_sql_fts splices its query terms and the staged dataset
    root into the match_bm25 statement as string literals, unescaped:
    a quote in either is refused before any staging work instead of
    ending the literal early."""
    from lance_duckdb_spark.operators import fts

    with pytest.raises(lf.LanceDatasetError, match="single quote"):
        fts.lance_sql_fts(spark, str(tmp_path / "sf'quoted"))
    monkeypatch.setattr(fts, "QUERY_TERMS", ("o'brien", "scan"))
    with pytest.raises(lf.LanceDatasetError, match="single quote"):
        fts.lance_sql_fts(spark, str(tmp_path / "sf_plain"))


def test_staged_fts_dataset_rebuilds_on_changed_text(spark, sf_dir, tmp_path):
    """The staged dataset behind lance_sql_fts is reused only while its
    corpus is unchanged: a documents.parquet with the same doc_ids and
    one changed text must rebuild it, not serve the stale text."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lance_duckdb_spark import tables
    from lance_duckdb_spark.operators import fts

    src = pq.read_table(f"{sf_dir}/documents.parquet")
    corpus = tmp_path / f"fts_fingerprint_{uuid.uuid4().hex[:8]}"
    corpus.mkdir()
    pq.write_table(src, corpus / "documents.parquet")
    root = fts._staged_fts_dataset(spark, str(corpus))
    try:
        texts = src.column("text").to_pylist()
        texts[0] = f"fingerprint {texts[0]}"
        col = src.schema.get_field_index("text")
        pq.write_table(
            src.set_column(col, "text", pa.array(texts)),
            corpus / "documents.parquet",
        )
        tables._RELATION_CACHE.pop((str(corpus), "documents"), None)
        assert fts._staged_fts_dataset(spark, str(corpus)) == root
        first = src.column("doc_id")[0].as_py()
        got = (
            spark.read.format("lance").load(root)
            .where(F.col("doc_id") == first).first()["text"]
        )
        assert got == texts[0]
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def test_ensure_fts_index_rebuilds_on_changed_text(spark, sf_dir, tmp_path):
    """ensure_fts_index reuses a built index only while its corpus is
    unchanged: the same doc_ids with one changed text must rebuild it,
    so a search for the new word finds that document."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lance_duckdb_spark import tables
    from lance_duckdb_spark.operators import fts

    src = pq.read_table(f"{sf_dir}/documents.parquet")
    corpus = tmp_path / f"fts_index_fingerprint_{uuid.uuid4().hex[:8]}"
    corpus.mkdir()
    index_dir = str(tmp_path / "fts_index")
    pq.write_table(src, corpus / "documents.parquet")
    fts.ensure_fts_index(spark, str(corpus), index_dir)
    word = "zqxfingerprint"
    assert search_bm25(spark, index_dir, [word]).count() == 0
    texts = src.column("text").to_pylist()
    texts[0] = f"{word} {texts[0]}"
    col = src.schema.get_field_index("text")
    pq.write_table(
        src.set_column(col, "text", pa.array(texts)),
        corpus / "documents.parquet",
    )
    tables._RELATION_CACHE.pop((str(corpus), "documents"), None)
    fts.ensure_fts_index(spark, str(corpus), index_dir)
    got = [r["doc_id"] for r in search_bm25(spark, index_dir, [word]).collect()]
    assert got == [src.column("doc_id")[0].as_py()]


def test_fts_dataset_delete_append_extend_loop(spark, docs_root):
    """The zero-rebuild curation loop for TEXT (r14 late): DELETE →
    APPEND → extend_fts_index_for_dataset → search. Pre-extend
    deleted docs stay dead at head == pin (serve_live_mask), the
    appended docs become searchable through the postings delta, and
    a further delete after the extend is masked too."""
    from lance_duckdb_spark.operators.fts import (
        extend_fts_index_for_dataset,
    )

    before = search_bm25_dataset(spark, docs_root, TERMS, k=10).collect()
    victims = [int(r["doc_id"]) for r in before[:2]]
    lance_sql(
        spark,
        f"DELETE FROM '{docs_root}' WHERE doc_id IN "
        f"({', '.join(map(str, victims))})",
    ).collect()
    # append a doc stuffed with the query terms — must rank once
    # the extend lands
    spark.createDataFrame(
        [(99_000_001, " ".join(TERMS * 8), "en")],
        "doc_id long, text string, lang string",
    ).write.format("lance").mode("append").save(docs_root)
    with pytest.raises(StaleIndexError, match="appended"):
        search_bm25_dataset(spark, docs_root, TERMS, k=10)
    meta = extend_fts_index_for_dataset(spark, docs_root)
    assert meta["serve_live_mask"] is True
    got = search_bm25_dataset(spark, docs_root, TERMS, k=10).collect()
    assert got
    ids = [int(r["doc_id"]) for r in got]
    assert all(v not in ids for v in victims)
    assert 99_000_001 in ids
    # delete the appended doc: masked on the next search
    lance_sql(
        spark, f"DELETE FROM '{docs_root}' WHERE doc_id = 99000001"
    ).collect()
    got2 = search_bm25_dataset(spark, docs_root, TERMS, k=10).collect()
    ids2 = [int(r["doc_id"]) for r in got2]
    assert 99_000_001 not in ids2
    assert all(v not in ids2 for v in victims)
    # a second extend over the delete-only history is a clean re-pin
    meta2 = extend_fts_index_for_dataset(spark, docs_root)
    assert meta2["serve_live_mask"] is True
    ids3 = [
        int(r["doc_id"])
        for r in search_bm25_dataset(spark, docs_root, TERMS, k=10).collect()
    ]
    assert ids3 == ids2
