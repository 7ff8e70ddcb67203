"""SQL-surface helpers for the lance data source: view-based catalog
registration and replacement-scan path sugar.

Reference parity:

- DuckDB gets ``SELECT * FROM 'file.lance'`` for free via a
  replacement scan (reference cpp/lance_replacement.cpp:11-31 —
  any table name ending in ``.lance`` is rewritten to
  ``lance_scan('<path>')``). :func:`lance_sql` is the Spark twin:
  it rewrites quoted ``.lance`` path literals in a SQL string into
  registered temp views backed by the lance data source, then runs
  ``spark.sql``.

- DuckDB also gets persistent DDL (``CREATE VIEW``/``ATTACH``) for
  free. Spark 4.1's Python DataSource API cannot back a *catalog*
  table (``CREATE TABLE ... USING lance`` hands the Python source
  empty options — no path reaches the reader; verified and
  documented in README "SQL over lance datasets"). Until the
  Python DS API grows catalog support, the supported SQL surface is
  TEMP VIEWS: :func:`register_lance_views` scans a directory tree
  for lance datasets and registers one view per dataset — the
  operational equivalent of attaching a database of lance tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession

from .session import local_frame
from .sources import datasource as ds
from .sources import iolayer as iol
from .sources import lance_format as lf
from .sources import maintenance


def _is_lance_dataset(path: str) -> bool:
    return iol.isdir(os.path.join(path, lf.MANIFEST_DIR))


def _view_name(path: str) -> str:
    """Stable SQL identifier for a dataset path: basename (sans
    ``.lance``) sanitized; non-leading-alnum chars become ``_``."""
    base = os.path.basename(path.rstrip("/"))
    if base.endswith(".lance"):
        base = base[: -len(".lance")]
    name = re.sub(r"[^0-9A-Za-z_]", "_", base)
    if not name or name[0].isdigit():
        name = "ds_" + name
    return name


def _discover_datasets(root_dir: str) -> list[str]:
    """Lance dataset directories under ``root_dir`` (one level of
    nesting, like a database directory of tables); ``root_dir``
    itself if it IS a dataset."""
    if _is_lance_dataset(root_dir):
        return [root_dir]
    out = []
    for entry in sorted(iol.listdir(root_dir)):
        p = os.path.join(root_dir, entry)
        if iol.isdir(p) and _is_lance_dataset(p):
            out.append(p)
    return out


def register_lance_views(
    spark: SparkSession,
    root_dir: str,
    version: int | dict[str, int] | None = None,
) -> dict[str, str]:
    """Register every lance dataset under ``root_dir`` (one level of
    nesting, like a database directory of tables) as a temp view
    named after its directory. Returns {view_name: dataset_path}.

    This is the catalog stand-in for ``CREATE TABLE ... USING
    lance`` (unsupported by Spark's Python DataSource API — see
    module docstring). Views are session-scoped; call once per
    session, after which the full ``spark.sql`` surface works over
    the datasets.

    ``version`` pins views to manifest versions. Datasets version
    INDEPENDENTLY (each append advances only its own history), so a
    single int is only meaningful when every table's history is
    aligned — passing one raises if any dataset lacks that version,
    rather than serving a mismatched snapshot. For the general case
    pass a mapping ``{view_name: version}``; unlisted views read
    latest (r4 ADVICE)."""
    ds.register(spark)
    # VALIDATE EVERYTHING FIRST, mutate the session catalog only
    # after: a failed call must not leave some views registered and
    # others not (r8 review finding — a typo'd mapping key used to
    # raise after every createOrReplaceTempView had already run).
    plan: list[tuple[str, str, int | None]] = []
    out: dict[str, str] = {}
    for path in _discover_datasets(root_dir):
        name = _view_name(path)
        if name in out:
            raise ValueError(
                f"view name collision: {path} and {out[name]} both "
                f"map to '{name}'"
            )
        if isinstance(version, dict):
            pin = version.get(name)
            if pin is not None and pin not in lf.list_versions(path):
                raise lf.LanceDatasetError(
                    f"dataset {path!r} has no version {pin} "
                    f"(versions: {lf.list_versions(path)})"
                )
        else:
            pin = version
            if pin is not None and pin not in lf.list_versions(path):
                raise lf.LanceDatasetError(
                    f"dataset {path!r} has no version {pin} "
                    f"(versions: {lf.list_versions(path)}); dataset "
                    "histories are independent — pass a per-view "
                    "mapping {view_name: version} instead of one "
                    "number for unaligned directories"
                )
        plan.append((name, path, pin))
        out[name] = path
    if isinstance(version, dict):
        unknown = set(version) - set(out)
        if unknown:
            # a typo'd view name would otherwise leave the intended
            # view silently unpinned on latest — the exact mismatch
            # hazard the mapping exists to prevent
            raise lf.LanceDatasetError(
                f"version mapping names unknown views {sorted(unknown)}; "
                f"registered views: {sorted(out)}"
            )
    for name, path, pin in plan:
        # filterPushdown OFF for every registered view: a long-lived
        # view's single relation instance can appear at multiple plan
        # positions with different derived filters, and Spark 4.1
        # serves them all from ONE planned python-DS scan — an
        # accepted filter from one position silently over-filters the
        # others (r9 finding: a UNION of two WHEREs over one view, or
        # a constant-key semi join, returned wrong rows). Declining
        # pushdown keeps every Filter node on Spark's side — correct
        # for any plan shape, at the cost of fragment pruning; use
        # lance_load()/lance_sql for pruned single-reference scans.
        reader = spark.read.format("lance").option(
            "filterPushdown", "false"
        )
        if pin is not None:
            reader = reader.option("version", str(pin))
        reader.load(path).createOrReplaceTempView(name)
    return out


# quoted path literal ending in .lance in TABLE position (after
# FROM or JOIN) — string literals elsewhere (WHERE clauses, SELECT
# values) are data, not table refs, and are left untouched; the
# reference's replacement scan gets the same positional context from
# DuckDB's parser
def _path_re(keywords: str) -> re.Pattern:
    return re.compile(
        rf"""\b((?:{keywords})\s+)(['"`])([^'"`]+\.lance)\2""", re.IGNORECASE
    )


_PATH_RE = _path_re("FROM|JOIN")
# ... and the DML statements' target and source positions, where a
# quoted path is a Spark syntax error: rewritten to a backtick
# identifier once before Spark's parser sees the statement
_DML_PATH_RE = _path_re("FROM|JOIN|INTO|UPDATE|USING|TABLE")

# first keyword at or after a position, past any comments
_LEAD_RE = re.compile(r"(?s)\s*(?:(?:--[^\n]*|/\*.*?\*/)\s*)*([A-Za-z]+)")

# `IS [NOT] DISTINCT FROM '<path>.lance'` — there FROM is an operator
# keyword, not a table position, and rewriting the literal produced an
# unresolvable column reference (r8 review finding). A lookbehind can't
# guard this (Python lookbehinds are fixed-width; `DISTINCT\s` misses
# `DISTINCT  FROM` / tab / newline, r9 advice), so the matcher checks
# the preceding token explicitly.
_DISTINCT_TAIL_RE = re.compile(r"(?is)\bDISTINCT\s*$")


def _in_table_position(sql: str, m: re.Match) -> bool:
    """False when the FROM the match starts with is the operator in
    ``IS [NOT] DISTINCT FROM`` rather than a table clause."""
    return _DISTINCT_TAIL_RE.search(sql, 0, m.start()) is None


def _narrowed_schema(path: str, sql: str):
    """Auto-narrow projection (the Python DS API has no automatic
    projection pushdown — SURVEY §2.A4): the dataset columns the SQL
    can possibly reference are exactly the identifiers that appear in
    its text (column references are always literal in SQL — there is
    no dynamic column naming), so intersecting the dataset schema
    with the query's word set is a sound over-approximation. A
    ``*`` anywhere disables narrowing (SELECT * needs everything);
    string literals can only ADD columns to the kept set, never drop
    one. Returns a StructType to scan, or None for the full schema.
    """
    from pyspark.sql.types import StructType

    from .sources import lance_native as ln

    # COUNT(*) references no columns — only a bare projection/qualified
    # star must disable narrowing
    starless = re.sub(r"(?i)count\s*\(\s*\*\s*\)", "", sql)
    if "*" in starless:
        return None
    # NATURAL JOIN references every common column WITHOUT naming it —
    # narrowing would drop unnamed join keys from the scan schema and
    # silently change the join. Same conservative gate as '*'.
    if re.search(r"(?i)\bnatural\b", sql):
        return None
    try:
        if ln.is_native_dataset(path):
            return None  # native reader manages its own schema map
        manifest = lf.read_manifest(path)
        full = StructType.fromJson(json.loads(manifest.schema_json))
    except Exception:
        return None
    # identifiers can be backtick-quoted and non-ASCII (`größe`) or
    # digit-led (`2024_rev`) — collect quoted segments verbatim plus
    # unicode word tokens, so a referenced column can never be
    # dropped from the narrowed schema
    words = {w.lower() for w in re.findall(r"`([^`]+)`", sql)}
    words |= {w.lower() for w in re.findall(r"\w+", sql, re.UNICODE)}
    kept = [f for f in full.fields if f.name.lower() in words]
    if not kept or len(kept) == len(full.fields):
        return None
    return StructType(kept)


# ``COPY (<select>) TO '<path>.lance' [(<options>)]``: the select is
# everything between the first "(" and the last ") TO '<path>.lance'"
_COPY_RE = re.compile(
    r"""(?is)^\s*COPY\s*\((?P<select>.*)\)\s*TO\s+(['"`])"""
    r"""(?P<path>[^'"`]+\.lance)\2\s*(?:\((?P<opts>[^)]*)\))?\s*;?\s*$"""
)


# ----------------------------------------- maintenance verbs (sugar)

_VACUUM_RE = re.compile(
    r"(?is)^\s*VACUUM\s+(['\"`])(?P<path>[^'\"`]+\.lance)\1"
    r"\s*(?:\((?P<opts>[^)]*)\))?\s*;?\s*$"
)
_OPTIMIZE_RE = re.compile(
    r"(?is)^\s*OPTIMIZE\s+(['\"`])(?P<path>[^'\"`]+\.lance)\1"
    r"(?:\s+ZORDER\s+BY\s*\((?P<cols>[^)]*)\))?\s*;?\s*$"
)


def _run_maintenance(spark: SparkSession, sql: str) -> DataFrame | None:
    """``VACUUM '<path>.lance' [(KEEP_LAST n, OLDER_THAN_SECONDS
    s)]`` → lance_format.cleanup_old_versions (returns one row of
    its reclamation counters) and ``OPTIMIZE '<path>.lance' [ZORDER
    BY (colA, colB)]`` → layout.optimize (plain = fragment
    compaction; ZORDER BY re-clusters on exactly two columns — the
    2-D interleave the layout implements). The Delta-ish maintenance
    verbs, as sugar over the existing CAS-guarded machinery."""
    m = _VACUUM_RE.match(sql)
    if m is not None:
        path = m.group("path")
        _require_dml_target(path, "VACUUM")
        kwargs: dict = {}
        for tok in filter(
            None, (t.strip() for t in _split_quote_aware(m.group("opts") or ""))
        ):
            parts = tok.split(None, 1)
            key = parts[0].lower()
            val = parts[1].strip() if len(parts) > 1 else ""
            if key == "keep_last":
                kwargs["keep_last"] = int(val)
            elif key == "older_than_seconds":
                kwargs["older_than_seconds"] = float(val)
            else:
                raise lf.LanceDatasetError(
                    f"unknown VACUUM option {key!r}; supported: "
                    "KEEP_LAST <int>, OLDER_THAN_SECONDS <float>"
                )
        stats = lf.cleanup_old_versions(path, **kwargs)
        return local_frame(
            spark,
            [
                (
                    int(stats["versions_removed"]),
                    int(stats["files_removed"]),
                    int(stats["bytes_reclaimed"]),
                )
            ],
            "versions_removed long, files_removed long, "
            "bytes_reclaimed long",
        )
    m = _OPTIMIZE_RE.match(sql)
    if m is not None:
        path = m.group("path")
        _require_dml_target(path, "OPTIMIZE")
        from .sources.layout import optimize

        cols = m.group("cols")
        if cols is None:
            optimize(spark, path)
        else:
            names = [c.strip().strip("`") for c in cols.split(",") if c.strip()]
            if len(names) != 2:
                raise lf.LanceDatasetError(
                    f"OPTIMIZE ZORDER BY takes exactly two columns (the "
                    f"2-D interleave the layout implements), got {names}"
                )
            optimize(spark, path, zorder_cols=(names[0], names[1]))
        head = lf.read_manifest(path)
        return local_frame(
            spark,
            [(head.version, len(head.fragments))],
            "version long, n_fragments long",
        )
    if re.match(r"(?is)^\s*(VACUUM|OPTIMIZE)\b", sql):
        raise lf.LanceDatasetError(
            "unsupported maintenance syntax; supported: VACUUM "
            "'<path>.lance' [(KEEP_LAST n, OLDER_THAN_SECONDS s)] and "
            "OPTIMIZE '<path>.lance' [ZORDER BY (colA, colB)]"
        )
    return None


# ------------------------------------------- DML through Spark's parser
#
# MERGE, UPDATE, DELETE, INSERT and CTAS are parsed by Spark's own SQL
# parser (the reference's DML is its host engine's grammar, DuckDB's);
# each verb's runner reads the parsed plan and slices the exact
# statement text of every condition, value and query out of it, so
# quoting, escapes, comments and nesting are the parser's business.
# ALTER, COPY, VACUUM, OPTIMIZE, DESCRIBE and the ANN/FTS sugar have no
# Spark grammar and stay on their own matchers below.

_DML_VERBS = frozenset({"MERGE", "UPDATE", "DELETE", "INSERT", "CREATE"})
_WRITE_VERBS = frozenset(
    {"COPY", "CREATE", "MERGE", "DELETE", "UPDATE", "VACUUM", "OPTIMIZE",
     "INSERT", "ALTER"}
)
_DML_SYNTAX = {
    "UPDATE": "unsupported UPDATE syntax; supported: UPDATE "
    "'<path>.lance' SET <col> = <spark-sql expr>[, ...] "
    "[WHERE <spark-sql predicate>] (no target alias)",
    "DELETE": "unsupported DELETE syntax; supported: DELETE FROM "
    "'<path>.lance' WHERE <spark-sql predicate> (no target alias; an "
    "unbounded DELETE without WHERE is refused — overwrite the dataset "
    "explicitly if you mean delete-everything)",
    "INSERT": "unsupported INSERT syntax; supported: INSERT INTO "
    "'<path>.lance' [(col, ...)] <select-or-VALUES> (no OVERWRITE, "
    "PARTITION or BY NAME)",
    "CREATE": "unsupported CREATE TABLE syntax; supported: CREATE [OR "
    "REPLACE] TABLE '<path>.lance' AS <select>",
}
# a nested write where Spark's grammar wants a query
_READ_ONLY = {
    "INSERT": "INSERT INTO takes a read-only query",
    "MERGE": "MERGE USING takes a read-only subquery",
    "CREATE": "CREATE TABLE AS takes a read-only query",
}
_WHEN_RE = re.compile(r"(?i)\bWHEN\s+(?:NOT\s+)?MATCHED(?:\s+BY\s+(?:SOURCE|TARGET))?")
# (clause kind, token Spark stopped at) -> the dialect's refusal
_MERGE_CLAUSE_REFUSALS = {
    ("NOT MATCHED BY SOURCE", "*"): "WHEN NOT MATCHED BY SOURCE cannot "
    "UPDATE SET * : no source row exists to replace from — assign "
    "explicit columns",
    ("NOT MATCHED BY SOURCE", "INSERT"): "WHEN NOT MATCHED BY SOURCE "
    "cannot INSERT (no source row exists in the by-source branch)",
    ("NOT MATCHED", "DELETE"): "WHEN NOT MATCHED cannot DELETE: no target "
    "row exists in the not-matched branch",
    ("NOT MATCHED", "UPDATE"): "WHEN NOT MATCHED cannot UPDATE: no target "
    "row exists in the not-matched branch (use INSERT)",
    ("NOT MATCHED", "SELECT"): "INSERT with a column list requires VALUES "
    "(<expr>, ...)",
    ("MATCHED", "INSERT"): "WHEN MATCHED cannot INSERT",
}


def _jlist(seq) -> list:
    """A Scala ``Seq`` as a Python list."""
    it, out = seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _span(node) -> tuple[int, int] | None:
    """A parsed node's own (start, stop) statement offsets, stop
    inclusive."""
    o = node.origin()
    lo, hi = o.startIndex(), o.stopIndex()
    return (lo.get(), hi.get()) if lo.isDefined() and hi.isDefined() else None


class _Slice:
    """A parsed expression as the exact statement text it came from,
    with the offsets of its qualified column references (``t.col``,
    subqueries included) so MERGE can rewrite them onto the joined
    frame's physical names. The text runs from the lowest start to the
    highest stop offset over the whole subtree: ``n IN (1, 2)``, ``n
    BETWEEN 1 AND 3`` and ``s IS NULL`` nodes start at their keyword,
    and ``Expression.sql()`` prints a subquery as ``listquery()``.
    Boolean literals are shared singletons holding the offsets of
    whichever statement first built them (skipped), and ``Exists``
    inherits its clause's offsets (rebuilt around its subquery)."""

    def __init__(self, sql: str, expr):
        self.sql, self.lo, self.hi = sql, len(sql), -1
        self.refs: list[tuple[int, int, list[str]]] = []
        self._walk(expr, True)
        if self.hi < 0:  # a bare TRUE/FALSE: no offsets of its own
            self.sql = expr.sql()
            self.lo, self.hi = 0, len(self.sql) - 1

    def _cover(self, lo: int, hi: int) -> None:
        self.lo, self.hi = min(self.lo, lo), max(self.hi, hi)

    def _walk(self, node, spans: bool) -> None:
        name, span = node.nodeName(), _span(node)
        if name == "UnresolvedAttribute" and span:
            self.refs.append((*span, _jlist(node.nameParts())))
        if name == "Exists":
            inner = _span(node.plan())
            if spans and inner:
                lo = self.sql.rfind("(", 0, inner[0])
                self._cover(
                    self.sql.upper().rfind("EXISTS", 0, lo),
                    self.sql.find(")", inner[1] + 1),
                )
        elif spans and span and not (
            name == "Literal" and node.dataType().typeName() == "boolean"
        ):
            self._cover(*span)
        for child in _jlist(node.children()):
            self._walk(child, spans)
        if name in ("Exists", "ScalarSubquery", "ListQuery"):
            self._walk_plan(node.plan())

    def _walk_plan(self, plan) -> None:
        for e in _jlist(plan.expressions()):
            self._walk(e, False)
        for child in _jlist(plan.children()):
            self._walk_plan(child)

    def text(self, prefixes: dict | None = None, renames: dict | None = None) -> str:
        """The expression's text with ``alias.col`` references whose
        lowercase alias is in ``prefixes`` rewritten to
        `` `<prefix><col>` `` (``renames`` optionally maps an alias's
        column names — the USING key rename). References not rewritten
        pass through and fail Spark analysis loudly."""
        prefixes, renames = prefixes or {}, renames or {}
        out, pos = [], self.lo
        for lo, hi, parts in sorted(self.refs):
            alias = parts[0].lower()
            if len(parts) < 2 or alias not in prefixes or lo < pos:
                continue
            col = renames.get(alias, {}).get(parts[1], parts[1])
            out += [self.sql[pos:lo], f"`{prefixes[alias]}{col}`"]
            out += [f".`{p}`" for p in parts[2:]]
            pos = hi + 1
        out.append(self.sql[pos : self.hi + 1])
        return "".join(out)

    def uses(self, alias: str) -> bool:
        """True when the expression references ``alias.<col>``."""
        return any(len(p) > 1 and p[0].lower() == alias for _, _, p in self.refs)


def _lance_target(node) -> str | None:
    """The dataset path of a `` `<path>.lance` `` table reference."""
    if node.nodeName() == "UnresolvedRelation":
        parts = _jlist(node.multipartIdentifier())
    elif node.nodeName() == "UnresolvedIdentifier":
        parts = _jlist(node.nameParts())
    else:
        return None
    return parts[0] if len(parts) == 1 and parts[0].endswith(".lance") else None


def _run_dml(spark: SparkSession, sql: str, verb: str) -> DataFrame | None:
    """Parse a MERGE/UPDATE/DELETE/INSERT/CTAS statement with Spark's
    parser and run it; None for a CREATE that names no lance dataset
    (plain Spark SQL). Parse errors become the dialect's refusals."""
    keywords: list[str] = []

    def _quote(m: re.Match) -> str:
        if not _in_table_position(sql, m):
            return m.group(0)
        keywords.append(m.group(1).split()[0].upper())
        return f"{m.group(1)}`{m.group(3)}`"

    text = _DML_PATH_RE.sub(_quote, sql)
    if verb == "CREATE" and "TABLE" not in keywords:
        return None
    parser = spark._jsparkSession.sessionState().sqlParser()
    try:
        plan = parser.parsePlan(text)
    except ParseException as e:
        raise _parse_refusal(parser, verb, text, e) from None
    run = {
        "MergeIntoTable": _run_merge,
        "UpdateTable": _run_update,
        "DeleteFromTable": _run_delete,
        "InsertIntoStatement": _run_insert,
        "CreateTableAsSelect": _run_ctas,
        "ReplaceTableAsSelect": _run_ctas,
    }.get(plan.nodeName())
    if run is None:
        raise lf.LanceDatasetError(_DML_SYNTAX.get(verb, "unsupported statement"))
    return run(spark, text, plan)


def _parse_refusal(parser, verb: str, sql: str, e: ParseException):
    """The dialect's refusal for a DML statement Spark could not parse,
    chosen from the error class and the clause or token at the error
    position; anything unrecognized keeps Spark's own message."""
    cond = e.getCondition() or ""
    token = (e.getMessageParameters() or {}).get("error", "").strip("'").upper()
    # the error's line and column, as an offset; PySpark keeps the Java
    # ParseException, which carries them, as ``_origin``
    start = e._origin.start()
    line, col = start.line(), start.startPosition()
    idx = len(sql)
    if line.isDefined() and col.isDefined():
        lines = sql.split("\n")[: line.get() - 1]
        idx = sum(len(ln) + 1 for ln in lines) + col.get()
    clause = ([None] + list(_WHEN_RE.finditer(sql, 0, idx)))[-1]
    spark_msg = next((ln for ln in e.getMessage().splitlines() if ln.strip()), "")
    if verb == "MERGE":
        if cond.startswith("NON_LAST_") and cond.endswith("_OMIT_CONDITION"):
            return _merge_err(
                "unreachable (duplicate) WHEN clause: an earlier "
                "unconditional clause of the same kind always applies first"
            )
        if cond == "_LEGACY_ERROR_TEMP_0006":
            arity = _values_arity(parser, sql, idx)
            if arity is not None:
                return _merge_err(
                    f"INSERT column list names {arity[0]} columns but "
                    f"VALUES supplies {arity[1]} expressions"
                )
        if clause is not None:
            kind = " ".join(clause.group(0).upper().split()[1:])
            msg = _MERGE_CLAUSE_REFUSALS.get((kind.replace(" BY TARGET", ""), token))
            if msg is not None:
                return _merge_err(msg)
    if clause is None and token in _WRITE_VERBS and verb in _READ_ONLY:
        return lf.LanceDatasetError(
            f"{_READ_ONLY[verb]}; nested write/DDL statements are refused"
        )
    if verb == "MERGE":
        return _merge_err(f"unsupported MERGE syntax ({spark_msg})")
    return lf.LanceDatasetError(f"{_DML_SYNTAX[verb]} ({spark_msg})")


def _values_arity(parser, sql: str, idx: int) -> tuple[int, int] | None:
    """(columns, values) of the MERGE ``INSERT (..) VALUES (..)`` clause
    at ``idx``, re-parsed as an INSERT statement (no arity check)."""
    if sql[idx : idx + 6].upper() != "INSERT":
        return None
    nxt = _WHEN_RE.search(sql, idx)
    try:
        ins = parser.parsePlan(f"INSERT INTO t {sql[idx + 6 : nxt and nxt.start()]}")
    except ParseException:
        return None
    q = ins.query()
    rows = q.rows().head() if q.nodeName() == "UnresolvedInlineTable" else q.output()
    return ins.userSpecifiedCols().size(), rows.size()


def _run_update(spark: SparkSession, sql: str, plan) -> DataFrame:
    """``UPDATE '<path>.lance' SET col = <expr>[, ...] [WHERE
    <pred>]`` — every expression is Spark SQL evaluated against the
    OLD row; lowered onto the fragment-pruned rewrite
    (maintenance.update_where_sql). Returns one row
    ``rows_updated``."""
    path = _lance_target(plan.table())
    if path is None:
        raise lf.LanceDatasetError(_DML_SYNTAX["UPDATE"])
    _require_dml_target(path, "UPDATE")
    assignments: dict[str, str] = {}
    for a in _jlist(plan.assignments()):
        parts = _jlist(a.key().nameParts())
        value = _Slice(sql, a.value()).text()
        if len(parts) != 1:
            raise lf.LanceDatasetError(
                f"malformed UPDATE assignment {'.'.join(parts)} = {value!r}; "
                "expected <col> = <spark-sql expr>"
            )
        if parts[0] in assignments:
            raise lf.LanceDatasetError(
                f"duplicate UPDATE assignment for column {parts[0]!r}"
            )
        assignments[parts[0]] = value
    cond = plan.condition()
    pred = _Slice(sql, cond.get()).text() if cond.isDefined() else "TRUE"
    n = maintenance.update_where_sql(spark, path, assignments, pred)
    return local_frame(spark, [(n,)], "rows_updated long")


def _run_delete(spark: SparkSession, sql: str, plan) -> DataFrame:
    """``DELETE FROM '<path>.lance' WHERE <predicate>`` — the
    predicate is any Spark SQL boolean expression over the dataset's
    columns, lowered onto deletion vectors (O(matches) metadata,
    fragment files untouched; maintenance.delete_where_sql). An
    unbounded DELETE is refused; Spark parses ``DELETE FROM x`` and
    ``... WHERE TRUE`` alike, so the WHERE is looked for in the text
    after the target. Returns one row ``rows_deleted``."""
    table = plan.table()
    path = _lance_target(table)
    where = _LEAD_RE.match(sql, _span(table)[1] + 1) if path else None
    if where is None or where.group(1).upper() != "WHERE":
        raise lf.LanceDatasetError(_DML_SYNTAX["DELETE"])
    _require_dml_target(path, "DELETE FROM")
    pred = _Slice(sql, plan.condition()).text()
    n = maintenance.delete_where_sql(spark, path, pred)
    return local_frame(spark, [(n,)], "rows_deleted long")


def _run_insert(spark: SparkSession, sql: str, plan) -> DataFrame:
    """``INSERT INTO '<path>.lance' [(col, ...)] <select | VALUES
    ...>`` — DuckDB-hosted INSERT parity: the query (the statement
    text after the target or column list) runs through lance_sql and
    appends through the lance writer as ONE new version. Columns map
    POSITIONALLY onto the named dataset columns, or onto all of them
    without a list; unnamed columns null-fill (the MERGE INSERT rule).
    Refused: non-dataset / native-encoded targets, OVERWRITE,
    PARTITION and BY NAME, unknown or duplicate columns, arity
    mismatch, retyping. Returns one row ``rows_inserted``."""
    from pyspark.sql import functions as F

    from .sources.maintenance import _committed_schema

    table = plan.table()
    path = _lance_target(table)
    if (
        path is None
        or plan.overwrite()
        or not plan.partitionSpec().isEmpty()
        or plan.ifPartitionNotExists()
        or plan.byName()
    ):
        raise lf.LanceDatasetError(_DML_SYNTAX["INSERT"])
    _require_dml_target(path, "INSERT INTO")
    cols = _jlist(plan.userSpecifiedCols())
    start = _span(table)[1] + 1
    if cols:  # the query follows the column list's closing paren
        start = sql.find(")", start) + 1
    df = lance_sql(spark, sql[start:].strip().rstrip(";"))
    committed = _committed_schema(lf.read_manifest(path))
    # without a column list the query's columns map onto the dataset's
    # by position, names immaterial
    names = cols or committed.fieldNames()
    if len(set(cols)) != len(cols):
        raise lf.LanceDatasetError(
            f"duplicate column in INSERT column list {cols}"
        )
    unknown = sorted(set(cols) - set(committed.fieldNames()))
    if unknown:
        raise lf.LanceDatasetError(
            f"INSERT names unknown columns {unknown}; dataset "
            f"columns: {committed.fieldNames()}"
        )
    if len(names) != len(df.columns):
        raise lf.LanceDatasetError(
            f"INSERT column list names {len(cols)} columns but the query "
            f"produces {len(df.columns)}"
            if cols
            else f"INSERT query produces {len(df.columns)} columns but "
            f"the dataset has {len(names)}"
        )
    df = df.select(
        *[
            F.col(f"`{df.columns[names.index(fld.name)]}`").alias(fld.name)
            if fld.name in names
            else F.lit(None).cast(fld.dataType).alias(fld.name)
            for fld in committed.fields
        ]
    )
    # type discipline: refuse retypes loudly (never silently cast a
    # value column), then conform nullability/metadata to the
    # committed schema — the append contract compares schema JSON
    # exactly, and literal-derived columns arrive non-nullable
    got = {f.name: f.dataType for f in df.schema.fields}
    want = {f.name: f.dataType for f in committed.fields}
    retyped = sorted(n for n in want if got[n] != want[n])
    if retyped:
        raise lf.LanceDatasetError(
            f"INSERT changes column types {retyped} "
            f"({ {n: f'{want[n]} -> {got[n]}' for n in retyped} }); "
            "cast the query's columns to the committed types "
            "explicitly"
        )
    out = _write_and_count(spark, df, path, "append", None)
    return out.withColumnRenamed("rows_copied", "rows_inserted")


def _run_ctas(spark: SparkSession, sql: str, plan) -> DataFrame:
    """``CREATE [OR REPLACE] TABLE '<path>.lance' AS <select>`` —
    refuses an existing dataset unless OR REPLACE. Returns one row
    ``rows_copied``."""
    name = plan.name()
    path = _lance_target(name)
    as_kw = _LEAD_RE.match(sql, _span(name)[1] + 1) if path else None
    if as_kw is None or as_kw.group(1).upper() != "AS":
        raise lf.LanceDatasetError(_DML_SYNTAX["CREATE"])
    if _is_lance_dataset(path) and plan.nodeName() == "CreateTableAsSelect":
        raise lf.LanceDatasetError(
            f"CREATE TABLE: dataset {path!r} already exists "
            "(use CREATE OR REPLACE TABLE to overwrite)"
        )
    df = lance_sql(spark, sql[as_kw.end() :].strip().rstrip(";"))
    return _write_and_count(spark, df, path, "overwrite", None)


_DESCRIBE_RE = re.compile(
    r"(?is)^\s*DESCRIBE\s+(?P<hist>HISTORY\s+)?"
    r"(['\"`])(?P<path>[^'\"`]+\.lance)\2\s*;?\s*$"
)


def _run_describe(spark: SparkSession, sql: str) -> DataFrame | None:
    """``DESCRIBE '<path>.lance'`` — schema introspection parity
    with the reference's lance_get_schema / field name / field type
    surface (rust/lib.rs:64-144): one row per column (col_name,
    data_type, nullable) in schema order, for BOTH manifest formats
    (JSON datasets via the committed schema, native-encoded via the
    protobuf manifest's arrow schema). ``DESCRIBE HISTORY`` lists
    the version chain (the `_versions/` layout, reference
    lib.rs:26-51 versioned open): one row per version with fragment
    count, live rows, and masked deletions — the time-travel
    catalog a lakehouse user expects."""
    if not re.match(r"(?is)^\s*DESCRIBE\b", sql):
        return None
    m = _DESCRIBE_RE.match(sql)
    if m is None:
        raise lf.LanceDatasetError(
            "unsupported DESCRIBE syntax; supported: DESCRIBE "
            "[HISTORY] '<path>.lance'"
        )
    path = m.group("path")
    if not _is_lance_dataset(path):
        raise lf.LanceDatasetError(
            f"DESCRIBE target {path!r} is not a lance dataset"
        )
    from .sources import lance_native as ln

    if m.group("hist"):
        if ln.is_native_dataset(path):
            raise lf.LanceDatasetError(
                "DESCRIBE HISTORY is not supported on native-encoded "
                "datasets (protobuf manifest): the read path handles "
                "them, but the history walk needs the JSON-manifest "
                "format this engine writes"
            )
        rows = []
        for v in lf.list_versions(path):
            man = lf.read_manifest(path, v)
            rows.append(
                (
                    v,
                    len(man.fragments),
                    sum(
                        f.num_rows - f.num_deleted for f in man.fragments
                    ),
                    sum(f.num_deleted for f in man.fragments),
                )
            )
        return local_frame(
            spark,
            rows,
            "version long, n_fragments long, n_rows long, "
            "n_deleted long",
        )
    if ln.is_native_dataset(path):
        from pyspark.sql.pandas.types import from_arrow_schema

        return _describe_schema(
            spark, schema=from_arrow_schema(ln.open_dataset(path).arrow_schema())
        )
    return _describe_schema(spark, path)


_ALTER_START_RE = re.compile(r"(?is)^\s*ALTER\b")
_ALTER_RE = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(['\"`])(?P<path>[^'\"`]+\.lance)\1"
    r"\s+(?:ADD\s+COLUMNS?\s+(?P<cols>.+?)"
    r"|DROP\s+COLUMNS?\s+(?P<dropcols>.+?)"
    r"|RENAME\s+COLUMN\s+(?P<rfrom>`?\w+`?)\s+TO\s+(?P<rto>`?\w+`?)"
    r"|ALTER\s+COLUMN\s+(?P<tcol>`?\w+`?)\s+TYPE\s+(?P<ttype>.+?)"
    r"(?:\s+USING\s+\((?P<texpr>.+)\))?)"
    r"\s*;?\s*$"
)

# Exact-valued type widenings for ALTER COLUMN ... TYPE: every value
# of the source type is representable bit-exactly in the target.
# Deliberately NOT included: bigint->double (53-bit mantissa loses
# precision past 2^53), double->float (truncates), any
# numeric->string (formatting, not widening), date->timestamp
# (timezone semantics). Lossy conversions spell themselves as an
# explicit-cast backfill: ADD COLUMN tmp <type> AS (CAST(col AS
# <type>)) + DROP + RENAME.
_SAFE_WIDENINGS = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
    ("tinyint", "float"), ("smallint", "float"),
}


def _widening_ok(src: str, dst: str) -> bool:
    if (src, dst) in _SAFE_WIDENINGS:
        return True
    m_s = re.match(r"^decimal\((\d+),(\d+)\)$", src)
    m_d = re.match(r"^decimal\((\d+),(\d+)\)$", dst)
    if m_s and m_d:
        ps, ss = int(m_s.group(1)), int(m_s.group(2))
        pd_, sd = int(m_d.group(1)), int(m_d.group(2))
        # scale may grow only with matching precision headroom:
        # every (p,s) value fits (p', s') iff s' >= s and
        # p' - s' >= p - s (integer digits don't shrink)
        return sd >= ss and (pd_ - sd) >= (ps - ss)
    return False


def _run_alter(spark: SparkSession, sql: str) -> DataFrame | None:
    """``ALTER TABLE '<path>.lance' ADD COLUMN[S] <name> <type>[,
    ...]`` — the SQL verb over the schema-evolution machinery that
    already backs ``.option('mergeSchema','true')`` appends (r11
    verdict item 4, completing the DuckDB-hosted DDL ergonomics next
    to INSERT/DESCRIBE): the new columns are appended NULLABLE to
    the committed schema and published as one new version carrying
    every fragment by reference — zero data IO, pre-evolution
    fragments surface typed NULLs through the null-filling scan
    path. The column list is parsed by Spark's own DDL parser, so
    the full type grammar (array<...>, struct<...>, decimal(p,s))
    works. ``DROP COLUMN[S]`` (r12, ``_run_alter_drop``) is the
    metadata-only inverse — Lance proper's drop_columns: the
    committed schema loses the fields, every fragment is carried by
    reference (zero data IO; pre-drop files keep the bytes, scans
    never read them), and the names are TOMBSTONED in the manifest —
    re-adding one is refused only while pre-drop fragments LACK
    stable field ids (legacy, read by name — old bytes would
    surface); with ids everywhere the re-added name gets a fresh id
    and the tombstone retires (r13). ``RENAME COLUMN a TO b`` (r13,
    ``_run_alter_rename``) is metadata-only through the stable
    field ids (rust/types.rs field model): fragments keep their
    physical names, readers resolve by id, old versions time-travel
    under the old name; requires every fragment id-stamped (legacy
    datasets must OPTIMIZE first), and by-name read paths
    (take_rows, version_changes, DML) refuse until a compact
    materializes the rename. ``ALTER COLUMN <name> TYPE <type>``
    (r13, ``_run_alter_retype``) accepts EXACT-VALUED widenings
    only, as a fragment-rewrite version. Refused loudly: lossy
    retypes (with the explicit-cast backfill spelled out), existing
    or duplicate column names on ADD/RENAME targets, unknown names
    or dropping every column on DROP, unparsable types,
    native-encoded targets. Returns the NEW schema (col_name,
    data_type, nullable) in schema order — the DESCRIBE shape."""
    if not _ALTER_START_RE.match(sql):
        return None
    m = _ALTER_RE.match(sql)
    if m is None:
        raise lf.LanceDatasetError(
            "unsupported ALTER syntax; supported: ALTER TABLE "
            "'<path>.lance' ADD COLUMN[S] <name> <type>[, ...] "
            "[AS (<expr>)], DROP COLUMN[S] <name>[, ...], "
            "RENAME COLUMN <a> TO <b>, ALTER COLUMN <name> TYPE "
            "<type> [USING (<expr>)] (exact-valued widenings "
            "implicit; anything else via the explicit USING cast)"
        )
    path = m.group("path")
    _require_dml_target(path, "ALTER TABLE")
    if m.group("rfrom") is not None:
        return _run_alter_rename(
            spark, path, m.group("rfrom"), m.group("rto")
        )
    if m.group("tcol") is not None:
        return _run_alter_retype(
            spark, path, m.group("tcol"), m.group("ttype"),
            m.group("texpr"),
        )
    if m.group("dropcols") is not None:
        return _run_alter_drop(spark, path, m.group("dropcols"))
    cols_src = m.group("cols")
    bf = _BACKFILL_RE.match(cols_src)
    if bf is not None:
        return _run_alter_add_backfill(
            spark, path, bf.group("name"), bf.group("type"),
            bf.group("expr"),
        )
    from pyspark.sql.types import StructType

    try:
        added = StructType.fromDDL(cols_src)
    except Exception as e:
        raise lf.LanceDatasetError(
            f"cannot parse ADD COLUMN list {cols_src!r}: "
            f"{str(e)[:200]}"
        )
    if not added.fields:
        raise lf.LanceDatasetError("ADD COLUMN list is empty")
    names = [f.name for f in added.fields]
    if len(set(names)) != len(names):
        raise lf.LanceDatasetError(
            f"duplicate column in ADD COLUMN list {names}"
        )
    not_null = [f.name for f in added.fields if not f.nullable]
    if not_null:
        # refuse loudly rather than silently coercing the user's
        # NOT NULL to nullable (r12 advice): pre-evolution fragments
        # must surface NULLs through the null-filling scan path, so
        # a NOT NULL add is unsatisfiable by construction
        raise lf.LanceDatasetError(
            f"ALTER TABLE ADD COLUMN: {not_null} declared NOT NULL — "
            "refused; added columns must be nullable because "
            "pre-evolution fragments surface NULLs for them"
        )
    manifest = lf.read_manifest(path)
    prev = json.loads(manifest.schema_json)
    existing = {f["name"] for f in prev["fields"]}
    clash = sorted(set(names) & existing)
    if clash:
        raise lf.LanceDatasetError(
            f"ALTER TABLE ADD COLUMN: columns {clash} already exist "
            "(retyping/replacing a column is refused)"
        )
    new_json = json.dumps(
        dict(
            prev,
            fields=prev["fields"]
            + [dict(f.jsonValue(), nullable=True) for f in added.fields],
        )
    )
    # an append of ZERO fragments under mergeSchema: the new version
    # carries every existing fragment by reference with the evolved
    # schema — exactly the mergeSchema-append commit path, so all
    # its guards (exact-match on existing fields, CAS on the
    # version) apply unchanged
    lf.commit(path, new_json, [], mode="append", merge_schema=True)
    return _describe_schema(spark, path)


# ADD COLUMN <name> <type> AS (<expr>): the backfilled single-column
# form — parens around the expression make the grammar unambiguous
# against multi-column ADD lists (a type can itself contain commas:
# decimal(10,2), struct<...>)
_BACKFILL_RE = re.compile(
    r"(?s)^\s*(?P<name>`?\w+`?)\s+(?P<type>[^()]+?|[^()]*\([^()]*\)"
    r"[^()]*?)\s+AS\s+\((?P<expr>.+)\)\s*$"
)


def _run_alter_add_backfill(
    spark: SparkSession, path: str, name: str, type_src: str, expr: str
) -> DataFrame:
    """``ALTER TABLE ... ADD COLUMN <name> <type> AS (<expr>)``
    (r13, r12 VERDICT item 3 — Lance proper's ``add_columns`` with
    an expression, evaluated over existing rows): the expression is
    Spark SQL over the dataset's columns, computed on the CURRENT
    live rows and committed as a fragment REWRITE version (the
    Spark-first spelling of per-fragment column files: one
    distributed job, old versions still time-travel without the
    column). Unlike the NULL-fill ADD this is O(data) — the cost is
    loud in the verb's semantics, not hidden.

    Refusals: existing/tombstoned-legacy name, unparsable type,
    nondeterministic expressions (the rewrite would bake
    unreproducible values — maintenance.refuse_nondeterministic), and
    a declared type that differs from the expression's ANALYZED
    type (no silent cast: write CAST(... AS <type>) in the
    expression to make the conversion explicit)."""
    from pyspark.sql.types import StructType

    name = name.strip("`")
    try:
        declared_struct = StructType.fromDDL(f"`{name}` {type_src}")
    except Exception as e:
        raise lf.LanceDatasetError(
            f"cannot parse ADD COLUMN type {type_src!r}: {str(e)[:200]}"
        )
    if len(declared_struct.fields) != 1:
        # the regex can match a MULTI-column ADD list whose last
        # element carries AS (...) — "flag int, score double AS
        # (expr)" parses as name=flag, type="int, score double";
        # silently taking fields[0] would drop the other columns and
        # backfill the wrong one (r13 review finding)
        raise lf.LanceDatasetError(
            "ADD COLUMN ... AS (<expr>) takes exactly ONE column; "
            f"got a list {type_src!r} — issue separate ALTER "
            "statements (the NULL-fill multi-column form has no "
            "backfill expression)"
        )
    declared = declared_struct.fields[0]
    if not declared.nullable:
        # same silent-coercion refusal as the plain ADD branch: the
        # declared NOT NULL would otherwise be dropped on the floor
        # (the written schema takes the expression's nullability)
        raise lf.LanceDatasetError(
            f"ALTER TABLE ADD COLUMN: [{name!r}] declared NOT NULL — "
            "refused; backfilled columns commit as nullable (declare "
            "the column without NOT NULL)"
        )
    manifest = lf.read_manifest(path)
    prev = json.loads(manifest.schema_json)
    existing = {f["name"] for f in prev["fields"]}
    if name in existing:
        raise lf.LanceDatasetError(
            f"ALTER TABLE ADD COLUMN: columns [{name!r}] already "
            "exist (retyping/replacing a column is refused)"
        )
    live = _native_live_df(spark, path)
    try:
        backfilled = live.selectExpr("*", f"({expr}) AS `{name}`")
        got_type = backfilled.schema[name].dataType
    except Exception as e:
        raise lf.LanceDatasetError(
            f"ADD COLUMN ... AS: cannot evaluate {expr!r} over the "
            f"dataset columns: {str(e)[:300]}"
        )
    maintenance.refuse_nondeterministic(
        backfilled,
        "ADD COLUMN ... AS expression",
        "a backfill must be reproducible — precompute the value or "
        "use a deterministic expression",
    )
    if got_type.simpleString() != declared.dataType.simpleString():
        raise lf.LanceDatasetError(
            f"ADD COLUMN ... AS: declared type "
            f"{declared.dataType.simpleString()} != expression type "
            f"{got_type.simpleString()}; write CAST(({expr}) AS "
            f"{declared.dataType.simpleString()}) to make the "
            "conversion explicit"
        )
    # one fragment-rewrite version: every pre-add file is replaced,
    # so any live tombstones retire with it (commit's physical
    # lifecycle) and the new field gets a fresh id
    backfilled.write.format("lance").mode("overwrite").option(
        "expectedVersion", str(manifest.version)
    ).save(path)
    return _describe_schema(spark, path)


def _describe_schema(
    spark: SparkSession, path: str | None = None, schema=None
) -> DataFrame:
    """A schema in DESCRIBE shape — the committed schema at ``path``
    unless ``schema`` is given; DESCRIBE's and the ALTER verbs' shared
    return value."""
    if schema is None:
        schema = maintenance._committed_schema(lf.read_manifest(path))
    return local_frame(
        spark,
        [
            (f.name, f.dataType.simpleString(), f.nullable)
            for f in schema.fields
        ],
        "col_name string, data_type string, nullable boolean",
    )


def _run_alter_retype(
    spark: SparkSession,
    path: str,
    col: str,
    type_src: str,
    using_expr: str | None = None,
) -> DataFrame:
    """``ALTER TABLE ... ALTER COLUMN <name> TYPE <type> [USING
    (<expr>)]`` (r13; USING r14 — Lance proper's ``alter_columns``
    takes the cast expression directly): without USING, only
    EXACT-VALUED widenings (int family up, float→double, decimal
    precision/scale growth with integer-digit headroom — see
    ``_SAFE_WIDENINGS``) are accepted; the cast evaluates over the
    current live rows and commits as one fragment REWRITE version,
    so pre-retype versions still time-travel with the old type and
    immutable old fragments are never reinterpreted in place. The
    column keeps its stable field id (same name through the rewrite
    commit).

    With ``USING (<expr>)`` the conversion is EXPLICIT: the Spark
    SQL expression (over the old row — any column may appear)
    replaces the implicit cast, so lossy conversions become one
    statement instead of the 3-step ADD/DROP/RENAME recipe. The
    expression must evaluate to exactly the declared type (wrap it
    in CAST otherwise — silent coercion would put a type in the
    schema the expression didn't produce); a same-type USING is
    refused as an UPDATE in disguise. Lossy conversions WITHOUT
    USING are refused with the working USING statement spelled
    out."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    col = col.strip("`")
    manifest = lf.read_manifest(path)
    prev = json.loads(manifest.schema_json)
    by_name = {f["name"]: f for f in prev["fields"]}
    if col not in by_name:
        raise lf.LanceDatasetError(
            f"ALTER COLUMN names unknown column {col!r}; dataset "
            f"columns: {list(by_name)}"
        )
    try:
        declared = StructType.fromDDL(f"`{col}` {type_src}").fields[0]
    except Exception as e:
        raise lf.LanceDatasetError(
            f"cannot parse ALTER COLUMN type {type_src!r}: "
            f"{str(e)[:200]}"
        )
    src_t = StructType.fromJson(
        {"type": "struct", "fields": [by_name[col]]}
    ).fields[0].dataType.simpleString()
    dst_t = declared.dataType.simpleString()
    if src_t == dst_t:
        raise lf.LanceDatasetError(
            f"ALTER COLUMN: {col!r} is already of type {dst_t}"
            + (
                " — a same-type USING is a value rewrite, not a "
                f"retype; use UPDATE ... SET {col} = <expr>"
                if using_expr is not None
                else ""
            )
        )
    if using_expr is None and not _widening_ok(src_t, dst_t):
        raise lf.LanceDatasetError(
            f"ALTER COLUMN {col!r} TYPE {dst_t}: {src_t} -> {dst_t} "
            "is not an exact-valued widening — only conversions "
            "where every value survives bit-exactly are accepted "
            "(int family up, float->double, decimal growth). For a "
            "lossy conversion make the cast explicit: ALTER COLUMN "
            f"{col} TYPE {dst_t} USING (CAST({col} AS {dst_t}))"
        )
    live = _native_live_df(spark, path)
    if using_expr is not None:
        try:
            retyped = live.withColumn(col, F.expr(using_expr))
            got_t = retyped.schema[col].dataType
        except Exception as e:
            raise lf.LanceDatasetError(
                f"ALTER COLUMN {col!r} USING ({using_expr}): the "
                f"expression failed to resolve over the dataset's "
                f"columns: {str(e)[:300]}"
            )
        if got_t.simpleString() != dst_t:
            raise lf.LanceDatasetError(
                f"ALTER COLUMN {col!r} TYPE {dst_t} USING "
                f"({using_expr}): the expression evaluates to "
                f"{got_t.simpleString()}, not the declared {dst_t} — "
                f"wrap it: USING (CAST({using_expr} AS {dst_t}))"
            )
    else:
        retyped = live.withColumn(col, F.col(col).cast(declared.dataType))
    retyped.write.format("lance").mode("overwrite").option(
        "expectedVersion", str(manifest.version)
    ).save(path)
    return _describe_schema(spark, path)


def _run_alter_rename(
    spark: SparkSession, path: str, src: str, dst: str
) -> DataFrame:
    """The RENAME COLUMN branch of ``_run_alter`` (r13): one
    metadata-only commit re-keying the stable field id — see the
    _run_alter docstring for the contract and lance_format.commit's
    rename_columns branch for the refusal matrix (unknown source,
    colliding target, legacy id-less fragments)."""
    src, dst = src.strip("`"), dst.strip("`")
    if not re.match(r"^[A-Za-z_]\w*$", dst):
        raise lf.LanceDatasetError(
            f"malformed RENAME COLUMN target {dst!r}"
        )
    manifest = lf.read_manifest(path)
    prev = json.loads(manifest.schema_json)
    names = [f["name"] for f in prev["fields"]]
    if src not in names:
        raise lf.LanceDatasetError(
            f"RENAME COLUMN names unknown column {src!r}; dataset "
            f"columns: {names}"
        )
    if dst in names:
        raise lf.LanceDatasetError(
            f"RENAME COLUMN target {dst!r} already exists"
        )
    new_json = json.dumps(
        dict(
            prev,
            fields=[
                dict(f, name=dst) if f["name"] == src else f
                for f in prev["fields"]
            ],
        )
    )
    lf.commit(
        path,
        new_json,
        [],
        mode="append",
        expected_version=manifest.version,
        rename_columns={src: dst},
    )
    return _describe_schema(spark, path)


def _run_alter_drop(
    spark: SparkSession, path: str, cols_src: str
) -> DataFrame:
    """The DROP COLUMN[S] branch of ``_run_alter`` (see its
    docstring for the tombstone contract)."""
    names = [c.strip().strip("`") for c in cols_src.split(",")]
    if any(not re.match(r"^[A-Za-z_]\w*$", c) for c in names):
        raise lf.LanceDatasetError(
            f"malformed DROP COLUMN list {cols_src!r}"
        )
    if len(set(names)) != len(names):
        raise lf.LanceDatasetError(
            f"duplicate column in DROP COLUMN list {names}"
        )
    manifest = lf.read_manifest(path)
    prev = json.loads(manifest.schema_json)
    existing = [f["name"] for f in prev["fields"]]
    unknown = sorted(set(names) - set(existing))
    if unknown:
        raise lf.LanceDatasetError(
            f"DROP COLUMN names unknown columns {unknown}; dataset "
            f"columns: {existing}"
        )
    kept = [f for f in prev["fields"] if f["name"] not in set(names)]
    if not kept:
        raise lf.LanceDatasetError(
            "DROP COLUMN would remove every column; drop the "
            "dataset instead"
        )
    lf.commit(
        path,
        json.dumps(dict(prev, fields=kept)),
        [],
        mode="append",
        expected_version=manifest.version,
        drop_columns=names,
    )
    return _describe_schema(spark, path)


# ------------------------------------------------------------ MERGE

_MERGE_DIALECT = (
    "MERGE INTO '<path>.lance' [AS] t USING (<select>) | "
    "'<src>.lance' [AS] s ON t.<col> = s.<col> followed by ordered "
    "WHEN clauses (first match wins): "
    "WHEN MATCHED [AND <cond>] THEN UPDATE SET * | UPDATE SET <col> "
    "= <expr>[, ...] | DELETE / "
    "WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN INSERT * | "
    "INSERT (<col>, ...) VALUES (<expr>, ...) / "
    "WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE | "
    "UPDATE SET <col> = <expr>[, ...]; conditions "
    "and SET/VALUES expressions are Spark SQL over alias-qualified "
    "columns (t.<col> = old target row, s.<col> = source row)"
)


def _require_dml_target(path: str, verb: str) -> None:
    """Shared DML/maintenance target gate: the path must be a lance
    dataset AND use the JSON-manifest format this engine writes.
    Native-encoded (protobuf-manifest) datasets also carry a
    ``_versions/`` directory, so without the second check a DML verb
    would die in ``read_manifest`` with a raw JSONDecodeError
    instead of a clear refusal (r9 advice)."""
    from .sources import lance_native as ln

    if not _is_lance_dataset(path):
        raise lf.LanceDatasetError(
            f"{verb} target {path!r} is not a lance dataset"
        )
    if ln.is_native_dataset(path):
        raise lf.LanceDatasetError(
            f"{verb} is not supported on native-encoded lance "
            "datasets (protobuf manifest): the read path handles "
            "them, but DML/maintenance rewrites need the "
            "JSON-manifest format this engine writes"
        )


def _merge_err(msg: str) -> "lf.LanceDatasetError":
    return lf.LanceDatasetError(
        f"{msg}; the supported MERGE dialect is: {_MERGE_DIALECT}"
    )


def _merge_spec(sql: str, plan) -> dict:
    """Read the supported MERGE dialect off Spark's parsed
    ``MergeIntoTable``: target and source (a `` `<path>.lance` ``
    relation or the exact text between the USING parentheses), the
    single ``t.<col> = s.<col>`` key equality, and merge_apply's three
    clause lists (matched, not matched, not matched by source) in
    statement order, each condition and SET/VALUES value rewritten from
    ``t.<col>``/``s.<col>`` onto the joined frame's physical names.
    Spark's grammar already refuses the
    actions a branch cannot take and unconditional clauses that are not
    last (``_parse_refusal`` words those errors in the dialect); this
    refuses what it accepts but the dialect does not — no target alias,
    WITH SCHEMA EVOLUTION, equal aliases, any other ON condition, SET
    of a non-target column, duplicate or qualified column names."""
    target, source = plan.targetTable(), plan.sourceTable()
    if plan.withSchemaEvolution() or target.nodeName() != "SubqueryAlias":
        raise _merge_err("unsupported MERGE INTO head")
    path = _lance_target(target.child())
    if path is None:
        raise _merge_err("unsupported MERGE INTO head")
    if source.nodeName() != "SubqueryAlias":
        raise _merge_err("MERGE requires a source alias and an ON clause")
    talias, salias = target.alias(), source.alias()
    if salias.lower() == talias.lower():
        raise _merge_err(
            f"target and source aliases are both {salias!r}; they must "
            "differ so the ON columns resolve"
        )
    cond = plan.mergeCondition()
    on = _Slice(sql, cond)
    sides = [
        _jlist(c.nameParts())
        for c in _jlist(cond.children())
        if c.nodeName() == "UnresolvedAttribute"
    ]
    if cond.nodeName() != "EqualTo" or len(sides) != 2 or any(
        len(p) != 2 for p in sides
    ):
        raise _merge_err(
            f"unsupported ON condition {on.text()!r}: exactly one qualified "
            "equality t.<col> = s.<col> is supported (no AND chains, "
            "no expressions)"
        )
    src_path = _lance_target(source.child())
    src_select = None
    if src_path is None:
        lp = sql.find("(", _span(target.child())[1] + 1, on.lo)
        rp = sql.rfind(")", 0, on.lo)
        if lp < 0 or rp < lp:
            raise _merge_err(
                "MERGE USING must name a '<path>.lance' dataset or a "
                "parenthesized subquery"
            )
        src_select = sql[lp + 1 : rp]
    keys = {p[0].lower(): p[1] for p in sides}
    ta, sa = talias.lower(), salias.lower()
    if set(keys) != {ta, sa}:
        raise _merge_err(
            f"ON condition {on.text()!r} must reference both aliases "
            f"{talias!r} and {salias!r}"
        )
    key_t, key_s = keys[ta], keys[sa]
    renames = {sa: {key_s: key_t}} if key_s != key_t else {}
    # per branch: the aliases its expressions may reference, with their
    # prefix in the joined frame, and the side with no row there
    branches = (
        ("matched", plan.matchedActions(), {ta: "__t_", sa: "__s_"}, None),
        ("not_matched", plan.notMatchedActions(), {sa: ""},
         ("target", talias, "not-matched", "VALUES")),
        ("not_matched_by_source", plan.notMatchedBySourceActions(),
         {ta: "__t_"}, ("source", salias, "by-source", "SET")),
    )
    clauses = {}
    for when, actions, prefixes, absent in branches:
        clauses[when] = []
        for act in _jlist(actions):
            kind, c = act.nodeName(), act.condition()
            cond = _Slice(sql, c.get()) if c.isDefined() else None
            sets = (
                _merge_sets(sql, act, talias)
                if kind in ("UpdateAction", "InsertAction")
                else None
            )
            side, alias, branch, values = absent or (None, "", "", "")
            for label, expr in [("condition", cond)] + [
                (f"{values} expression for {col!r}", v)
                for col, v in (sets or {}).items()
            ]:
                if side and expr is not None and expr.uses(alias.lower()):
                    raise _merge_err(
                        f"WHEN {when.replace('_', ' ').upper()} {label} "
                        f"{expr.text()!r} references the {side} alias "
                        f"{alias!r}; no {side} row exists in the {branch} "
                        "branch"
                    )
            if when == "not_matched" and sets is not None and key_t not in sets:
                raise _merge_err(
                    f"INSERT column list must assign the merge key {key_t!r} "
                    "(NULL-keyed inserts are refused — the upsert contract)"
                )
            out = {
                "cond": cond.text(prefixes, renames) if cond else None,
                "sets": None
                if sets is None
                else {col: v.text(prefixes, renames) for col, v in sets.items()},
            }
            if when != "not_matched":
                out["action"] = "delete" if kind == "DeleteAction" else "update"
            clauses[when].append(out)
    return {
        "path": path,
        "src_path": src_path,
        "src_select": src_select,
        "key_t": key_t,
        "key_s": key_s,
        "clauses": clauses,
    }


def _merge_sets(sql: str, action, talias: str) -> dict:
    """{column: value slice} of an UPDATE SET or INSERT (..) VALUES
    action; SET may name the target alias, INSERT columns are bare."""
    insert = action.nodeName() == "InsertAction"
    sets: dict[str, _Slice] = {}
    for a in _jlist(action.assignments()):
        parts = _jlist(a.key().nameParts())
        value = _Slice(sql, a.value())
        if insert and len(parts) != 1:
            raise _merge_err(f"malformed INSERT column name(s) {['.'.join(parts)]}")
        if len(parts) > 2:
            raise _merge_err(
                f"malformed SET assignment {'.'.join(parts)} = "
                f"{value.text()!r}; expected [t.]<col> = <spark-sql expr>"
            )
        if len(parts) == 2 and parts[0].lower() != talias.lower():
            raise _merge_err(
                f"SET assigns {parts[0]}.{parts[1]}, but only the target "
                f"alias {talias!r} can be assigned"
            )
        if parts[-1] in sets:
            raise _merge_err(
                f"duplicate {'INSERT column' if insert else 'SET assignment for column'} "
                f"{parts[-1]!r}"
            )
        sets[parts[-1]] = value
    return sets


def _run_merge(spark: SparkSession, sql: str, plan) -> DataFrame:
    """Lower a parsed MERGE (``_merge_spec``) onto
    maintenance.merge_apply — the per-row, first-match-wins clause
    engine that publishes the whole statement as ONE new version
    (atomic: a crash or concurrent reader sees pre- or post-merge
    state, never a half-applied mix); duplicate source rows for a
    matched target key raise the ANSI cardinality error. Returns one
    row (rows_updated, rows_inserted, rows_deleted) counting TARGET
    rows updated/deleted and SOURCE rows inserted.

    Dialect restriction, enforced loudly: NULL-keyed SOURCE rows are
    REFUSED whenever an INSERT clause exists (the upsert contract)
    rather than silently inserted the way ANSI MERGE's not-matched
    branch would — merge-by-NULL-key is undefined and a NULL-keyed
    insert is almost always a data bug; filter them explicitly if
    intended. Without an INSERT clause they are harmless (NULL never
    matches) and ignored.

    A source whose plan carries a Python-DS relation is SPILLED to
    a parquet stage before any join logic, for two reasons:
    (1) every clause must classify against the pre-merge state
    (never re-reading its own writes), and (2) Spark 4.1 plans a
    Python-DataSource relation ONCE per relation instance — when
    the optimizer clones one relation into several scan positions
    with DIFFERENT derived filters, every position is served by the
    single planned scan, silently mis-filtering the others (r9
    finding; observed, not theoretical). Native-view sources (the
    lance_sql subquery path) are exempt — see the inline comment at
    the spill site. The target side is read as NATIVE parquet from
    the manifest inside merge_apply, which Spark plans per-position
    — the join graph never references a lance relation."""
    from .materialize import release_spill, spill_to_parquet

    parsed = _merge_spec(sql, plan)
    path = parsed["path"]
    _require_dml_target(path, "MERGE INTO")
    if parsed["src_path"] is not None:
        if not _is_lance_dataset(parsed["src_path"]):
            raise lf.LanceDatasetError(
                f"MERGE USING source {parsed['src_path']!r} is not a "
                "lance dataset"
            )
        src = spark.read.format("lance").load(parsed["src_path"])
    else:
        # merge_apply evaluates the source in SEVERAL separate jobs
        # (profile aggregate, dup-key probe, classification joins,
        # survivor rewrite, insert anti-join). A nondeterministic
        # subquery — rand()/current_timestamp/TABLESAMPLE — can
        # classify DIFFERENT rows per job, silently writing rows the
        # counts never saw (r11 advice). The native-view spill-skip
        # below makes this reachable, so refuse it.
        src = lance_sql(spark, parsed["src_select"])
        maintenance.refuse_nondeterministic(
            src,
            "MERGE USING subquery",
            "the source is evaluated by several separate jobs and must "
            "produce the same rows each time — materialize it first "
            "(COPY ... TO a staging dataset) and merge from that",
            sample=True,
        )
    key = parsed["key_t"]
    if parsed["key_s"] != key:
        if key in src.columns:
            raise lf.LanceDatasetError(
                f"MERGE source already has a column named {key!r}; "
                f"cannot also rename join column {parsed['key_s']!r} "
                "onto it"
            )
        src = src.withColumnRenamed(parsed["key_s"], key)

    # The spill guards against Spark 4.1's Python-DS relation-
    # cloning hazard (docstring above) and against a source lazily
    # re-reading the target AFTER the merge commits. Neither applies
    # when the source plan contains NO Python-DS relation: lance_sql
    # subquery sources are native parquet views pinned to the
    # CONCRETE pre-merge file list (fragment files are immutable
    # until VACUUM, and the commit only adds files), so every lazy
    # re-evaluation sees the identical pre-merge rows. Skipping the
    # spill there removes a write+read round per statement — at DML
    # statement granularity the dominant fixed cost (r11).
    # Detection is conservative: ANY v2 relation in the plan spills.
    needs_spill = "RelationV2" in (
        src._jdf.queryExecution().analyzed().toString()
    )
    if needs_spill:
        src = spill_to_parquet(src, "merge-src")
    try:
        clauses = parsed["clauses"]
        n_upd, n_ins, n_del = maintenance.merge_apply(
            spark, path, src, key, clauses["matched"],
            clauses["not_matched"], clauses["not_matched_by_source"],
        )
    finally:
        if needs_spill:
            release_spill(src)
    return local_frame(
        spark,
        [(n_upd, n_ins, n_del)],
        "rows_updated long, rows_inserted long, rows_deleted long",
    )


# codecs the fragment writer actually accepts (datasource.py:817,
# pq.write_table) — validate at parse time so a typo'd codec fails
# the COPY statement instead of the first executor write task
_COPY_CODECS = frozenset({"zstd", "snappy", "gzip", "none"})


def _split_quote_aware(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside single/double quotes: a bare
    ``split(',')`` would break a quoted value containing a comma."""
    out, buf, in_str = [], [], ""
    for c in s:
        if in_str:
            buf.append(c)
            if c == in_str:
                in_str = ""
        elif c in "'\"":
            buf.append(c)
            in_str = c
        elif c == sep:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(c)
    out.append("".join(buf))
    return out


def _copy_options(opts: str) -> dict:
    """Parse the COPY option list: ``FORMAT LANCE, MODE 'append',
    COMPRESSION 'zstd'``. Unknown keys, malformed quoting, and
    unknown codecs are refused loudly — a typo'd option silently
    ignored is how data ends up written wrong."""
    out: dict = {}
    for tok in filter(None, (t.strip() for t in _split_quote_aware(opts))):
        parts = tok.split(None, 1)
        key = parts[0].lower()
        raw = parts[1].strip() if len(parts) > 1 else ""
        if len(raw) >= 2 and raw[0] in "'\"" and raw[-1] == raw[0]:
            raw = raw[1:-1]
        elif raw and (raw[0] in "'\"" or raw[-1] in "'\""):
            raise lf.LanceDatasetError(
                f"unbalanced quotes in COPY option value: {tok!r}"
            )
        val = raw.lower()
        if key == "format":
            if val != "lance":
                raise lf.LanceDatasetError(
                    f"COPY TO '<path>.lance' supports FORMAT LANCE only, "
                    f"got {val!r}"
                )
        elif key == "mode":
            if val not in ("append", "overwrite"):
                raise lf.LanceDatasetError(
                    f"COPY MODE must be 'append' or 'overwrite', got {val!r}"
                )
            out["mode"] = val
        elif key == "compression":
            if val not in _COPY_CODECS:
                raise lf.LanceDatasetError(
                    f"unknown COPY COMPRESSION codec {val!r}; supported: "
                    f"{sorted(_COPY_CODECS)}"
                )
            out["compression"] = val
        else:
            raise lf.LanceDatasetError(f"unknown COPY option {key!r}")
    return out


def _write_and_count(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str,
    compression: str | None,
) -> DataFrame:
    before = 0
    if mode == "append" and _is_lance_dataset(path):
        before = sum(
            f.num_rows for f in lf.read_manifest(path).fragments
        )
    writer = df.write.format("lance").mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.save(path)
    # rows written, from manifest metadata (no recompute of the query)
    total = sum(f.num_rows for f in lf.read_manifest(path).fragments)
    return local_frame(
        spark, [(total - before,)], schema="rows_copied long"
    )


def lance_load(
    spark: SparkSession, path: str, columns: list[str] | None = None
) -> DataFrame:
    """DataFrame-API read with explicit projection narrowing — the
    wide-table read path until Spark's Python DataSource API grows
    projection pushdown (a plain ``spark.read.format("lance")
    .load(p).select("one_col")`` still scans every column; the
    reference gets pruning free from DuckDB's bind,
    cpp/lance_scan.cpp). ``columns=None`` reads the full schema;
    otherwise the scan schema is exactly the requested columns and
    the result carries them in REQUESTED order for both dataset
    flavors (r8 review: the manifest path used to return dataset
    order while the native path returned requested order — a silent
    column swap for positional consumers on format migration) — the
    same identifier narrowing ``lance_sql`` applies automatically
    (plan-asserted in tests/test_catalog.py). Unknown column names
    are refused loudly."""
    from pyspark.sql.types import StructType

    from .sources import lance_native as ln

    ds.register(spark)
    reader = spark.read.format("lance")
    if columns is not None:
        if ln.is_native_dataset(path):
            # the native reader resolves its own schema map; narrow
            # by selecting after the scan (native v2 reads are
            # columnar per-page, so unprojected columns still cost
            # decode — acceptable until the reader grows projection)
            df = reader.load(path)
            missing = set(columns) - set(df.columns)
            if missing:
                raise lf.LanceDatasetError(
                    f"lance_load: unknown columns {sorted(missing)}"
                )
            return df.select(*columns)
        manifest = lf.read_manifest(path)
        full = StructType.fromJson(json.loads(manifest.schema_json))
        missing = set(columns) - {f.name for f in full.fields}
        if missing:
            raise lf.LanceDatasetError(
                f"lance_load: unknown columns {sorted(missing)} "
                f"(dataset has {[f.name for f in full.fields]})"
            )
        kept = StructType([f for f in full.fields if f.name in set(columns)])
        return reader.schema(kept).load(path).select(*columns)
    return reader.load(path)


def _native_live_df(spark: SparkSession, path: str) -> DataFrame:
    """Current-version live rows of a JSON-manifest dataset as a
    NATIVE parquet DataFrame: committed schema (evolved columns
    null-fill), deletion vectors applied. The file-source backing is
    what lets lance_sql views participate in vectorized scans,
    Catalyst pushdown, and per-position planning.

    Field-id aware (r13): fragments whose PHYSICAL column names
    drifted from the current schema (metadata-only RENAME, or a
    re-add over a dead column) are read in their own union branch
    under a physical-name schema and projected back to current names
    by stable field id — the name-resolved parquet scan would
    otherwise silently null-fill a renamed field (or surface dead
    bytes under a re-added name). Un-renamed datasets keep the
    single-branch plan unchanged."""
    from pyspark.sql import functions as F

    from .sources.datasource import _partition_colmap
    from .sources.maintenance import _committed_schema, _live_view

    manifest = lf.read_manifest(path)
    committed = _committed_schema(manifest)
    if not manifest.fragments:
        return local_frame(spark, [], committed)
    groups: dict = {}
    for f in manifest.fragments:
        groups.setdefault(_partition_colmap(manifest, f), []).append(f)
    from pyspark.sql.types import StructField, StructType

    parts = []
    for cm, frags in groups.items():
        if cm is None:  # identity / legacy: by-name is correct
            parts.append(_live_view(spark, path, committed, frags))
            continue
        cmd = dict(cm)
        phys = StructType(
            [
                StructField(cmd[fl.name], fl.dataType, True)
                for fl in committed.fields
                if fl.name in cmd
            ]
        )
        parts.append(
            _live_view(spark, path, phys, frags).select(
                *[
                    (
                        F.col(cmd[fl.name]).alias(fl.name)
                        if fl.name in cmd
                        else F.lit(None).cast(fl.dataType).alias(fl.name)
                    )
                    for fl in committed.fields
                ]
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------------- ANN sugar
#
# The DuckDB-UX spelling of the r13 filtered ANN search (r14, r13
# VERDICT item 3): the reference's users type SQL against a DuckDB
# that evaluates `list_cosine_similarity` natively; here the same
# ORDER BY <cosine expr> LIMIT k over a '<path>.lance' scan is
# recognized and served from the PERSISTED IVF index (bucket-pruned,
# pre-filtered when a WHERE rides along, deletion-aware per
# vector_index._staleness_gate) instead of a brute-force scan Spark
# could not even express (the similarity functions are not Spark
# builtins). Statements that name a similarity function but don't
# fit the servable shape refuse LOUDLY with the recipe — silent
# fallthrough would surface as an unresolved-function error three
# layers deeper.

_ANN_COS_FNS = (
    "(?:list_cosine_similarity|array_cosine_similarity|"
    "cosine_similarity)"
)
_ANN_OTHER_METRIC_RE = re.compile(
    r"(?is)\b(list_distance|array_distance|l2_distance|"
    r"list_inner_product|array_inner_product|dot_product|"
    r"inner_product|list_negative_inner_product)\s*\("
)
_ANN_SQL_RE = re.compile(
    rf"""(?isx)^\s*
    SELECT\s+(?P<idcol>`[^`]+`|[A-Za-z_]\w*)\s*,\s*
    (?P<simexpr>
      (?P<fn>{_ANN_COS_FNS})\s*\(\s*
      (?P<veccol>`[^`]+`|[A-Za-z_]\w*)\s*,\s*
      (?:ARRAY\s*)?\[\s*(?P<vec>[^\]]*)\]\s*\)
    )\s*
    (?:AS\s+(?P<alias>[A-Za-z_]\w*)\s*)?
    FROM\s+'(?P<path>[^']+\.lance)'\s*
    (?:WHERE\s+(?P<where>.*?)\s*)?
    ORDER\s+BY\s+(?P<ord>.+?)\s+DESC\s*
    LIMIT\s+(?P<k>\d+)\s*;?\s*$
    """
)
# nprobe scales with the index's bucket count (r14 review: fixed
# 8/12 calibrated at the 16-bucket test scale would probe ~3% of a
# k=256 index and silently collapse recall): sqrt(k) with a floor of
# 8 — the standard IVF default shape — and the filtered escalation
# at 1.5x mirrors similarity.FILTERED_NPROBE's rationale (qualifying
# rows spread across more buckets). At k=16 this lands on the
# measured 8/12. Callers needing explicit control use ann_search()
# directly (documented in the refusal/shape message's module doc).


def _ann_sql_nprobe(k_buckets: int, filtered: bool) -> int:
    base = max(8, int(round(k_buckets**0.5)))
    return min(k_buckets, int(round(base * 1.5)) if filtered else base)

_ANN_SHAPE_MSG = (
    "ANN SQL serving recognizes exactly: SELECT <id_col>, "
    "<cosine_fn>(<vector_col>, [<float>, ...]) [AS <alias>] FROM "
    "'<path>.lance' [WHERE <pred>] ORDER BY <alias>|<expr> DESC "
    "LIMIT <k>. The similarity functions are index-served sugar, "
    "not Spark builtins — rewrite the statement to this shape, or "
    "call vector_index.ann_search() directly for explicit "
    "nprobe/refine control"
)


def _run_ann(spark: SparkSession, sql: str) -> DataFrame | None:
    # Detect similarity functions on a copy with STRING LITERALS
    # stripped (the _filter_ids discipline, r14 review): a function
    # name inside a literal ("... WHERE body LIKE
    # '%cosine_similarity(%'") must not hijack a valid generic query
    # into the ANN shape refusal. A genuine ANN statement names the
    # function outside any literal, so detection is unaffected; the
    # path check runs on the RAW text (the path itself is a literal).
    stripped = re.sub(r"'[^']*'", " ", sql)
    has_cos = re.search(rf"(?is)\b{_ANN_COS_FNS}\s*\(", stripped)
    has_other = _ANN_OTHER_METRIC_RE.search(stripped)
    if not (has_cos or has_other):
        return None
    if not re.search(r"(?is)'[^']+\.lance'", sql):
        return None  # similarity fn over a non-lance relation: not ours
    if has_other:
        raise lf.LanceDatasetError(
            f"ANN SQL serving: {has_other.group(1)} does not match "
            "the persisted index metric (cosine) — only a "
            "cosine-similarity ORDER BY is index-servable; rebuild "
            "the index under the metric you need or rank by cosine"
        )
    m = _ANN_SQL_RE.match(sql)
    if m is None:
        raise lf.LanceDatasetError(_ANN_SHAPE_MSG)
    path = m.group("path")
    if not _is_lance_dataset(path):
        raise lf.LanceDatasetError(
            f"ANN SQL serving: no lance dataset at {path!r}"
        )
    from .sources.vector_index import (
        ann_search,
        ann_search_pq,
        read_index_meta,
        read_pq_index_meta,
    )

    search_fn = ann_search
    try:
        meta = read_index_meta(path)
    except lf.LanceDatasetError:
        # IVF_PQ is Lance proper's default index — serve from it
        # when the flat-IVF index is absent (same candidate/pruning
        # shape; PQ adds the ADC refine + exact rerank internally)
        try:
            meta = read_pq_index_meta(path)
            search_fn = ann_search_pq
        except lf.LanceDatasetError as e:
            raise lf.LanceDatasetError(
                f"ANN SQL serving needs a persisted IVF or IVF_PQ "
                f"index at {path!r} — build_ivf_index / "
                "build_ivf_pq_index first (an un-indexed ORDER BY "
                "similarity over the full corpus is a brute-force "
                "scan; this sugar deliberately refuses to hide that "
                "cost)"
            ) from e
    # identifier comparisons are CASE-INSENSITIVE (r14 review):
    # Spark resolves columns case-insensitively by default and
    # DuckDB likewise — the (?i) grammar must not be stricter than
    # the engines it fronts. Serving uses the index meta's spelling.
    idcol = m.group("idcol").strip("`")
    veccol = m.group("veccol").strip("`")
    if veccol.lower() != meta["column"].lower():
        raise lf.LanceDatasetError(
            f"ANN SQL serving: the index covers column "
            f"{meta['column']!r} but the query ranks {veccol!r}"
        )
    if idcol.lower() != meta["id_col"].lower():
        raise lf.LanceDatasetError(
            f"ANN SQL serving: the index id column is "
            f"{meta['id_col']!r} but the query selects {idcol!r}"
        )
    idcol, veccol = meta["id_col"], meta["column"]
    alias = m.group("alias") or "score"
    squash = lambda s: re.sub(r"\s+", "", s).lower()
    ord_c = squash(m.group("ord")).strip("`")
    if ord_c not in (alias.lower(), squash(m.group("simexpr"))):
        raise lf.LanceDatasetError(
            "ANN SQL serving: ORDER BY must repeat the similarity "
            f"expression or its alias {alias!r} (got "
            f"{m.group('ord').strip()!r}); " + _ANN_SHAPE_MSG
        )
    # STRICT vector-literal parse (r14 review: a findall of number
    # tokens would silently extract '2' from a malformed 'x2' — or
    # read '[0.1 0.2]' as two components — and search a vector the
    # user never wrote): split on commas, every piece must be a
    # float on its own.
    vec_txt = m.group("vec")
    try:
        vec = [float(p.strip()) for p in vec_txt.split(",")]
    except ValueError:
        bad = [
            p.strip()
            for p in vec_txt.split(",")
            if not re.fullmatch(
                r"[-+]?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?", p.strip()
            )
        ]
        raise lf.LanceDatasetError(
            f"ANN SQL serving: query-vector elements {bad[:3]} are "
            "not numeric literals — the vector must be a "
            "comma-separated list of floats"
        )
    if len(vec) != meta["dim"]:
        raise lf.LanceDatasetError(
            f"ANN SQL serving: query vector has {len(vec)} "
            f"components, the index is built over dim {meta['dim']}"
        )
    from pyspark.sql import functions as F

    where = m.group("where")
    probes = local_frame(
        spark,
        [(0, vec)],
        schema=f"probe_id long, {meta['column']} array<double>",
    )
    res = search_fn(
        spark,
        path,
        probes,
        k_neighbors=int(m.group("k")),
        nprobe=_ann_sql_nprobe(int(meta["k"]), where is not None),
        filter=where,
        exclude_self=False,
    )
    return res.select(
        F.col("neighbor_id").alias(idcol),
        F.col("cos_sim").alias(alias),
    ).orderBy(F.desc(alias), F.asc(idcol))


# FTS through SQL (r14): the match_bm25 spelling DuckDB's FTS
# extension gives its users, served from the DATASET-ATTACHED
# inverted index (operators/fts.build_fts_index_for_dataset) with
# the same serving ladder as the ANN sugar — WHERE pre-filters,
# deletion-aware, loud refusals.
_FTS_SQL_RE = re.compile(
    r"""(?isx)^\s*
    SELECT\s+(?P<idcol>`[^`]+`|[A-Za-z_]\w*)\s*,\s*
    (?P<matchexpr>
      match_bm25\s*\(\s*
      (?P<textcol>`[^`]+`|[A-Za-z_]\w*)\s*,\s*
      '(?P<query>[^']*)'\s*\)
    )\s*
    (?:AS\s+(?P<alias>[A-Za-z_]\w*)\s*)?
    FROM\s+'(?P<path>[^']+\.lance)'\s*
    (?:WHERE\s+(?P<where>.*?)\s*)?
    ORDER\s+BY\s+(?P<ord>.+?)\s+DESC\s*
    LIMIT\s+(?P<k>\d+)\s*;?\s*$
    """
)

_FTS_SHAPE_MSG = (
    "FTS SQL serving recognizes exactly: SELECT <id_col>, "
    "match_bm25(<text_col>, '<query terms>') [AS <alias>] FROM "
    "'<path>.lance' [WHERE <pred>] ORDER BY <alias>|<expr> DESC "
    "LIMIT <k>. match_bm25 is index-served sugar, not a Spark "
    "builtin — rewrite the statement to this shape, or call "
    "operators.fts.search_bm25_dataset() directly"
)


def _run_fts(spark: SparkSession, sql: str) -> DataFrame | None:
    stripped = re.sub(r"'[^']*'", " ", sql)
    if not re.search(r"(?is)\bmatch_bm25\s*\(", stripped):
        return None
    if not re.search(r"(?is)'[^']+\.lance'", sql):
        return None
    m = _FTS_SQL_RE.match(sql)
    if m is None:
        raise lf.LanceDatasetError(_FTS_SHAPE_MSG)
    path = m.group("path")
    if not _is_lance_dataset(path):
        raise lf.LanceDatasetError(
            f"FTS SQL serving: no lance dataset at {path!r}"
        )
    from .operators.fts import (
        FTS_DATASET_DIR,
        _read_fts_meta,
        search_bm25_dataset,
    )

    idx = os.path.join(path, FTS_DATASET_DIR)
    try:
        meta = _read_fts_meta(idx)
    except (OSError, ValueError) as e:
        raise lf.LanceDatasetError(
            f"FTS SQL serving needs a dataset-attached inverted "
            f"index at {idx!r} — build_fts_index_for_dataset first "
            "(an un-indexed match_bm25 over the full corpus is a "
            "brute-force scan; this sugar deliberately refuses to "
            "hide that cost)"
        ) from e
    if "dataset_version" not in meta:
        raise lf.LanceDatasetError(
            f"the FTS index at {idx!r} is not dataset-attached — "
            "rebuild it with build_fts_index_for_dataset"
        )
    idcol = m.group("idcol").strip("`")
    textcol = m.group("textcol").strip("`")
    if textcol.lower() != meta["text_col"].lower():
        raise lf.LanceDatasetError(
            f"FTS SQL serving: the index covers column "
            f"{meta['text_col']!r} but the query matches {textcol!r}"
        )
    if idcol.lower() != meta["id_col"].lower():
        raise lf.LanceDatasetError(
            f"FTS SQL serving: the index id column is "
            f"{meta['id_col']!r} but the query selects {idcol!r}"
        )
    idcol = meta["id_col"]
    alias = m.group("alias") or "score"
    squash = lambda s: re.sub(r"\s+", "", s).lower()
    ord_c = squash(m.group("ord")).strip("`")
    if ord_c not in (alias.lower(), squash(m.group("matchexpr"))):
        raise lf.LanceDatasetError(
            "FTS SQL serving: ORDER BY must repeat the match_bm25 "
            f"expression or its alias {alias!r}; " + _FTS_SHAPE_MSG
        )
    terms = m.group("query").split()
    if not terms:
        raise lf.LanceDatasetError(
            "FTS SQL serving: the match_bm25 query string is empty"
        )
    from pyspark.sql import functions as F

    res = search_bm25_dataset(
        spark,
        path,
        terms,
        k=int(m.group("k")),
        filter=m.group("where"),
    )
    return res.select(
        F.col("doc_id").alias(idcol), F.col("score").alias(alias)
    ).orderBy(F.desc(alias), F.asc(idcol))


def lance_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Run SQL where quoted ``'path.lance'`` literals are table
    references — DuckDB replacement-scan parity
    (cpp/lance_replacement.cpp: any table name ending ``.lance``
    becomes a scan of that dataset).

    Statements that write or describe a dataset:

    - MERGE, UPDATE, DELETE, INSERT and ``CREATE [OR REPLACE] TABLE
      '<path>.lance' AS <select>`` are parsed by Spark's own SQL
      parser, as the reference's DML is its host engine's (DuckDB's)
      grammar: quoted target and source paths become backtick
      identifiers, and each condition, value and query is the exact
      statement text of its parsed node (``_run_dml``). The verbs
      lower onto maintenance.merge_apply (per-row first-match-wins
      clauses over ``t.<col>``/``s.<col>``, one version per
      statement; dialect in ``_MERGE_DIALECT``), update_where_sql
      (fragment-pruned rewrite, expressions see the OLD row),
      delete_where_sql (deletion vectors; unbounded DELETE refused)
      and the lance writer (INSERT appends one version, CTAS refuses
      an existing dataset unless OR REPLACE). Forms Spark accepts but
      the dialect does not (target aliases on UPDATE/DELETE,
      OVERWRITE, PARTITION, BY NAME) and Spark parse errors are
      refused as ``LanceDatasetError``. Each returns one row of counts.
    - Spark has no grammar for the rest, so each keeps its own
      matcher: ``COPY (<select>) TO '<path>.lance' [(FORMAT LANCE,
      MODE 'append'|'overwrite', COMPRESSION '<codec>')]`` (the
      reference's COPY function, cpp/lance_copy.cpp; default MODE
      overwrite), ``ALTER TABLE`` (its ``USING (<expr>)`` and ``ADD
      COLUMN ... AS (<expr>)`` forms are not Spark SQL), ``VACUUM``,
      ``OPTIMIZE``, ``DESCRIBE [HISTORY]``, and the index-served
      sugar ``SELECT <id>, <cosine_fn>(<vec>, [<floats>]) AS s FROM
      '<path>.lance' [WHERE ..] ORDER BY s DESC LIMIT k`` (_run_ann)
      and the same shape over ``match_bm25(<text>, '<terms>')``
      (_run_fts).

    Each distinct quoted ``.lance`` path that exists on disk is
    registered as a deterministic temp view and the literal is
    replaced by the view name; literals that do NOT name an existing
    dataset are left untouched (so string data containing
    ``.lance`` never breaks — slightly stricter than the reference,
    which rewrites any FROM-position name unconditionally).

    Scans are AUTO-NARROWED to the columns the query text can
    reference (see ``_narrowed_schema``): a single-column SELECT over
    a wide dataset reads one column, closing most of the Python DS
    API's missing projection pushdown. The view name encodes the
    kept-column set so narrowing can never leak stale between
    queries sharing a session."""
    ds.register(spark)

    copy = _COPY_RE.match(sql)
    if copy is not None:
        select, path = copy.group("select"), copy.group("path")
        opts = _copy_options(copy.group("opts") or "")
        # the body re-enters lance_sql, whose dispatch would EXECUTE a
        # smuggled write/DDL statement before the read-path rewrite
        lead = _LEAD_RE.match(select)
        if lead and lead.group(1).upper() in _WRITE_VERBS:
            raise lf.LanceDatasetError(
                "COPY (...) TO takes a read-only query; nested write/DDL "
                "statements are refused"
            )
        df = lance_sql(spark, select)
        return _write_and_count(
            spark, df, path,
            opts.get("mode", "overwrite"), opts.get("compression"),
        )
    lead = _LEAD_RE.match(sql)
    if lead and lead.group(1).upper() in _DML_VERBS:
        out = _run_dml(spark, sql, lead.group(1).upper())
        if out is not None:
            return out
    described = _run_describe(spark, sql)
    if described is not None:
        return described
    altered = _run_alter(spark, sql)
    if altered is not None:
        return altered
    maint = _run_maintenance(spark, sql)
    if maint is not None:
        return maint
    ann = _run_ann(spark, sql)
    if ann is not None:
        return ann
    fts = _run_fts(spark, sql)
    if fts is not None:
        return fts

    used_views: set[str] = set()
    occurrence: dict[str, int] = {}

    def _sub(m: re.Match) -> str:
        from .sources import lance_native as ln

        if not _in_table_position(sql, m):
            return m.group(0)
        path = m.group(3)
        if not _is_lance_dataset(path):
            return m.group(0)
        if not ln.is_native_dataset(path):
            # JSON-manifest dataset: back the view with a NATIVE
            # parquet scan of the current version's live rows
            # (deletion vectors applied; committed schema, so evolved
            # columns null-fill). Strictly better than the Python DS
            # here: vectorized JVM scan (no Python-worker Arrow
            # transfer), real Catalyst predicate pushdown + column
            # pruning into the parquet footers (no auto-narrowing
            # needed), and file-source relations are planned PER SCAN
            # POSITION — the Spark 4.1 Python-DS relation-cloning
            # hazard (one planned scan served every optimizer clone
            # with divergent filters, r9 finding) cannot occur at
            # all. The fragment list pins at registration, giving the
            # statement snapshot isolation.
            occ = occurrence.get(path, 0)
            occurrence[path] = occ + 1
            digest = hashlib.md5(
                (os.path.abspath(path) + f"\0native\0{occ}").encode()
            ).hexdigest()[:10]
            name = f"lance_ds_{digest}"
            _native_live_df(spark, path).createOrReplaceTempView(name)
            used_views.add(name)
            return m.group(1) + name
        narrowed = _narrowed_schema(path, sql)
        cols_key = ",".join(f.name for f in narrowed.fields) if narrowed else "*"
        # Native-encoded datasets go through the Python DS reader.
        # ONE VIEW PER OCCURRENCE, not per path: Spark's Python
        # DataSource keeps a single reader instance per relation, and
        # pushFilters state is shared across every scan node of that
        # relation — two branches of one query scanning the same view
        # with different WHEREs cross-contaminate (last pushFilters
        # wins for BOTH branches' read path; observed as a UNION ALL
        # whose first branch silently inherited the second branch's
        # pushed filter, r9). A distinct view per textual occurrence
        # gives every scan its own relation and reader. The occurrence
        # index is deterministic (textual order), so re-running the
        # same statement reuses the same view names.
        occ = occurrence.get(path, 0)
        occurrence[path] = occ + 1
        digest = hashlib.md5(
            (os.path.abspath(path) + "\0" + cols_key + f"\0{occ}").encode()
        ).hexdigest()[:10]
        name = f"lance_ds_{digest}"
        # idempotent per session: re-registering the same
        # path+cols+occurrence is a no-op. filterPushdown OFF: the
        # per-occurrence views protect against TEXTUAL duplication,
        # but the optimizer can still clone ONE occurrence into
        # filter-divergent positions (constant-key semi joins) — and
        # Spark 4.1 serves every clone from one planned scan (see
        # register_lance_views). Column narrowing stays: it is
        # schema-level and uniform across clones.
        reader = spark.read.format("lance").option(
            "filterPushdown", "false"
        )
        if narrowed is not None:
            reader = reader.schema(narrowed)
        reader.load(path).createOrReplaceTempView(name)
        used_views.add(name)
        return m.group(1) + name

    rewritten = _PATH_RE.sub(_sub, sql)
    # cap the LRU only AFTER the rewrite, protecting every view THIS
    # statement references — a 65-dataset federated query must not
    # evict its own first views before spark.sql analyzes (r8 review)
    _remember_narrowed_views(spark, used_views)
    return spark.sql(rewritten)


# Narrowed views are content-addressed per (path, column-set), so a
# long session issuing many DISTINCT projections over the same tables
# would otherwise grow the session catalog without bound (r8 review
# finding). An LRU cap reclaims the oldest; dropping is safe for
# already-returned DataFrames because temp-view resolution happens at
# spark.sql() analysis time, not execution time. The LRU lives as an
# attribute ON the session (not a module dict keyed by id(spark),
# which leaked per dead session and could collide on id reuse).
_NARROWED_VIEW_CAP = 64


def _remember_narrowed_views(spark: SparkSession, names: set[str]) -> None:
    lru: dict[str, None] | None = getattr(
        spark, "_lance_narrowed_lru", None
    )
    if lru is None:
        lru = {}
        spark._lance_narrowed_lru = lru
    for name in names:
        lru.pop(name, None)
        lru[name] = None  # most-recently-used at the end
    evictable = [n for n in lru if n not in names]
    excess = len(lru) - _NARROWED_VIEW_CAP
    for oldest in evictable[: max(0, excess)]:
        del lru[oldest]
        try:
            spark.catalog.dropTempView(oldest)
        except Exception:
            pass


class LanceWarehouse:
    """Session-scoped catalog over a directory of lance datasets —
    the ergonomic stand-in for the persistent catalog the reference
    gets free from DuckDB (ATTACH + replacement scan,
    cpp/lance_replacement.cpp): one call registers every dataset
    under a warehouse root as a temp view, and every subsequent
    ``.sql()`` transparently REFRESHES views whose dataset version
    has moved (a Spark temp view snapshots the fragment list at
    registration, so appends/overwrites after registration are
    invisible until re-registered — verified in
    tests/test_catalog.py).

    The refresh is cheap and proportional to CHANGE, not warehouse
    size: per query it lists each dataset's manifest directory (one
    metadata listing per table, no data I/O, no plan rebuild) and
    re-registers only new datasets and bumped versions; vanished
    datasets get their views dropped. At 1000-table scale the steady
    state is 1000 directory listings and zero re-registrations."""

    def __init__(self, spark: SparkSession, root_dir: str):
        self.spark = spark
        self.root_dir = root_dir
        # view -> (path, registered version, manifest file identity)
        self._registered: dict[str, tuple[str, int, tuple]] = {}
        ds.register(spark)
        self.refresh()

    @staticmethod
    def _manifest_token(path: str, ver: int) -> tuple:
        """Identity of a dataset LIFE, not just its version number: a
        dataset deleted and recreated from scratch can reach the same
        max version with different contents — (path, ver) equality
        would then keep serving the stale pre-delete view (r8 review
        finding). The latest manifest file's (mtime_ns, size) changes
        on any recreate, so it completes the staleness key."""
        mp = os.path.join(path, lf.MANIFEST_DIR, f"{ver}.manifest")
        try:
            st = os.stat(mp)
            return (st.st_mtime_ns, st.st_size)
        except OSError:
            return ("missing",)

    def refresh(self) -> dict[str, str]:
        """Sync views with the warehouse directory; returns the
        {view: path} mapping of views (re-)registered THIS call.
        VALIDATES the whole directory before touching the session
        catalog — a name collision raises with the catalog unchanged,
        never half-refreshed (r8 review; the same discipline as
        register_lance_views)."""
        seen: dict[str, str] = {}
        plan: list[tuple[str, str, int, tuple]] = []
        for path in _discover_datasets(self.root_dir):
            name = _view_name(path)
            if name in seen:
                raise ValueError(
                    f"view name collision: {path} and {seen[name]} both "
                    f"map to '{name}'"
                )
            versions = lf.list_versions(path)
            if not versions:
                # a writer creates the manifest dir BEFORE linking
                # the first version (lance_format.commit): a crashed
                # or in-flight first commit leaves a versionless
                # dataset. Skip it — it becomes visible on the
                # refresh after its first commit lands — instead of
                # poisoning every warehouse query with an error.
                continue
            seen[name] = path
            ver = max(versions)
            token = self._manifest_token(path, ver)
            if self._registered.get(name) != (path, ver, token):
                plan.append((name, path, ver, token))
        changed: dict[str, str] = {}
        for name, path, ver, token in plan:
            # filterPushdown OFF — same multi-reference hazard as
            # register_lance_views (warehouse views are long-lived)
            self.spark.read.format("lance").option(
                "filterPushdown", "false"
            ).load(path).createOrReplaceTempView(name)
            self._registered[name] = (path, ver, token)
            changed[name] = path
        for name in list(self._registered):
            if name not in seen:
                self.spark.catalog.dropTempView(name)
                del self._registered[name]
        return changed

    def views(self) -> dict[str, str]:
        """Currently registered {view: dataset path}."""
        return {n: info[0] for n, info in self._registered.items()}

    def sql(self, query: str) -> DataFrame:
        """Run SQL over the warehouse views, refreshed first so the
        query always sees each dataset's LATEST version (per-version
        pins belong to :func:`register_lance_views`)."""
        self.refresh()
        return lance_sql(self.spark, query)


def use_lance_warehouse(spark: SparkSession, root_dir: str) -> LanceWarehouse:
    """Register every lance dataset under ``root_dir`` and return a
    :class:`LanceWarehouse` whose ``.sql()`` keeps the views current
    across version bumps (r6 VERDICT item 6)."""
    return LanceWarehouse(spark, root_dir)
