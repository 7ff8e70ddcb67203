"""Workloads: named lists of registry statements, each chosen to
exercise some layers of the program and bypass others."""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # write use of the Lance layers: each statement writes a dataset,
    # commits DML versions through catalog.lance_sql -> maintenance ->
    # lance_format.commit, then reads the result back; no spill
    "lance_dml": [
        "lance_merge",
        "lance_sql_delete",
        "lance_sql_update",
    ],
    # read use of the same manifest and index metadata, served from
    # indexes staged by the warm-up pass; spills at build time
    "ann_serving": [
        "ann_ivf_filtered",
        "ann_ivf_after_delete",
        "hybrid_search",
        "fts_bm25_indexed",
        "lance_take",
    ],
}

# Statement -> span that its traced run must record beneath it. A
# missing span means a wrapper was bypassed, e.g. a module that bound
# the wrapped function by name at import time and was not rebound.
REQUIRED_SPANS: dict[str, str] = {
    "lance_merge": "lance_format.commit",
    "ann_ivf_filtered": "materialize.spill",
}
