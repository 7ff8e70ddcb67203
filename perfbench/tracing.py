"""Spans around the program's layers, recorded from outside the program.

:class:`Tracer` wraps public functions of the package's modules and
rebinds every module attribute that refers to them, including names a
module bound at import time (``from ..materialize import
spill_to_parquet``). Each call becomes a span with a name, start, end,
parent and statement id; spans stay in memory until the run writes
them out. Spans of layers that can launch Spark jobs get a job group
of their own, so each job is attributed to the innermost such span.

A span's self time is its duration minus that of its direct children.
Spans nest single-threaded inside their statement span, so the self
times of one statement's spans add up to its wall time by
construction; the statement span's own self time is the part no layer
accounts for.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "lance_duckdb_spark"
IOLAYER = f"{PACKAGE}.sources.iolayer"
JOB_GROUP = "spark.jobGroup.id"

# (module, public functions, span name)
TARGETS: tuple[tuple[str, tuple[str, ...], str], ...] = (
    (f"{PACKAGE}.materialize", ("spill_to_parquet",), "materialize.spill"),
    (f"{PACKAGE}.catalog", ("lance_sql",), "catalog.lance_sql"),
    (
        f"{PACKAGE}.sources.maintenance",
        ("upsert", "delete_keys", "delete_where_sql", "update_where_sql", "merge_apply"),
        "maintenance.dml",
    ),
    (f"{PACKAGE}.sources.lance_format", ("commit",), "lance_format.commit"),
    (f"{PACKAGE}.sources.lance_format", ("read_manifest",), "lance_format.read_manifest"),
    (f"{PACKAGE}.sources.lance_format", ("list_versions",), "lance_format.list_versions"),
    (
        f"{PACKAGE}.sources.vector_index",
        ("build_ivf_index", "build_ivf_pq_index", "extend_ivf_index", "extend_ivf_pq_index"),
        "vector_index.build",
    ),
    (f"{PACKAGE}.sources.vector_index", ("ann_search", "ann_search_pq"), "vector_index.search"),
    (
        f"{PACKAGE}.sources.vector_index",
        ("read_index_meta", "read_pq_index_meta"),
        "vector_index.read_meta",
    ),
    (f"{PACKAGE}.operators.fts", ("ensure_fts_index",), "fts.ensure_index"),
    (f"{PACKAGE}.operators.fts", ("search_bm25", "search_bm25_dataset"), "fts.search"),
    # storage verbs, named as an object store bills them
    (
        IOLAYER,
        (
            "read_bytes", "read_head", "read_text", "read_parquet",
            "parquet_file", "read_parquet_schema", "parquet_metadata",
        ),
        "iolayer.get",
    ),
    (
        IOLAYER,
        ("write_bytes", "write_text", "put_if_absent", "promote_local", "write_parquet"),
        "iolayer.put",
    ),
    (IOLAYER, ("listdir",), "iolayer.list"),
    (IOLAYER, ("exists", "isdir", "getsize", "getmtime"), "iolayer.head"),
    (IOLAYER, ("remove", "rmtree"), "iolayer.delete"),
)

# Modules that bind spill_to_parquet by name at import time; their
# spills go uncounted unless the name is rebound in each of them.
SPILL_BINDERS = (
    f"{PACKAGE}.operators.dedup",
    f"{PACKAGE}.operators.similarity",
    f"{PACKAGE}.operators.clustering",
    f"{PACKAGE}.sources.vector_index",
)

# Layers whose calls may launch Spark jobs.
JOB_LAYERS = frozenset(
    {"statement", "operators", "spark", "materialize", "catalog", "maintenance",
     "vector_index", "fts"}
)


@dataclass
class Span:
    sid: int
    parent: int | None
    stmt: str
    name: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s

    def to_json(self) -> dict:
        return {
            "id": self.sid, "parent": self.parent, "stmt": self.stmt,
            "name": self.name, "start": self.start, "end": self.end,
            "self_s": self.self_s, **self.attrs,
        }


def _package_modules():
    return [
        m for n, m in list(sys.modules.items())
        if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))
    ]


def rebind(replacements: dict[int, tuple[object, object]]) -> list[tuple[object, str, object]]:
    """Point every package-module attribute that is one of the originals
    (``{id(original): (original, replacement)}``) at its replacement.
    Returns what :func:`unbind` needs to undo it."""
    undo = []
    for mod in _package_modules():
        for attr, val in list(vars(mod).items()):
            hit = replacements.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                undo.append((mod, attr, val))
    return undo


def unbind(undo: list[tuple[object, str, object]]) -> None:
    for obj, attr, orig in reversed(undo):
        setattr(obj, attr, orig)


class Tracer:
    """Records spans for one run. :meth:`install` wraps the targets,
    :meth:`restore` puts the originals back."""

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self.stmt = ""

    # ------------------------------------------------------------ spans

    def _open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.sid if parent else None, self.stmt, name, 0.0)
        if name.split(".", 1)[0] in JOB_LAYERS:
            s.group = f"perfbench-{s.sid}"
            self._sc.setLocalProperty(JOB_GROUP, s.group)
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._stack[-1].child_s += s.end - s.start
        if s.group is not None:
            enclosing = next((p.group for p in reversed(self._stack) if p.group), None)
            self._sc.setLocalProperty(JOB_GROUP, enclosing)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self._open(name)
        try:
            yield s
        finally:
            self._close(s)

    def _wrap(self, fn, name: str):
        tracer = self
        account = _ACCOUNTS.get(fn.__name__)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(s)
            if account is not None:
                account(s, args, kwargs, out)
            return out

        traced.__perfbench_wrapper__ = True
        return traced

    # ------------------------------------------------- install / restore

    def install(self) -> list[str]:
        """Wrap every target and rebind every package-module attribute
        that refers to one. Returns self-check failures."""
        wrappers: dict[int, tuple[object, object]] = {}
        for modname, names, span_name in TARGETS:
            mod = importlib.import_module(modname)
            for n in names:
                orig = getattr(mod, n)
                wrappers[id(orig)] = (orig, self._wrap(orig, span_name))
        self._undo = rebind(wrappers)
        problems = []
        for mod in _package_modules():
            for attr, val in vars(mod).items():
                hit = wrappers.get(id(val))
                if hit is not None and hit[0] is val:
                    problems.append(f"{mod.__name__}.{attr} still unwrapped")
        for modname in SPILL_BINDERS:
            fn = getattr(importlib.import_module(modname), "spill_to_parquet")
            if not getattr(fn, "__perfbench_wrapper__", False):
                problems.append(f"{modname}.spill_to_parquet not rebound")
        return problems

    def restore(self) -> list[str]:
        """Put every original back. Returns self-check failures."""
        unbind(self._undo)
        self._undo = []
        self._sc.setLocalProperty(JOB_GROUP, None)
        return [
            f"{mod.__name__}.{attr} still wrapped"
            for mod in _package_modules()
            for attr, val in vars(mod).items()
            if getattr(val, "__perfbench_wrapper__", False)
        ]

    # ------------------------------------------------------------ jobs

    def resolve_jobs(self, spans: list[Span]) -> None:
        """Record on each span the Spark jobs and tasks its job group ran."""
        tracker = self._sc.statusTracker()
        for s in spans:
            if s.group is None:
                continue
            jobs = tasks = 0
            for job_id in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                jobs += 1
                for stage_id in info.stageIds:
                    st = tracker.getStageInfo(stage_id)
                    if st is not None:
                        tasks += st.numCompletedTasks + st.numFailedTasks
            s.attrs["jobs"] = jobs
            s.attrs["tasks"] = tasks


# ------------------------------------------------------ byte accounting


def _iolayer():
    return sys.modules[IOLAYER]


def _size(path) -> int:
    io = _iolayer()
    getsize = getattr(io.getsize, "__wrapped__", io.getsize)
    return getsize(path)


def _read_len(s, args, kwargs, out):
    s.attrs["bytes_read"] = len(out.encode() if isinstance(out, str) else out)


def _read_object(s, args, kwargs, out):
    s.attrs["bytes_read"] = _size(args[0] if args else kwargs["path"])


def _written_payload(s, args, kwargs, out):
    data = args[1] if len(args) > 1 else kwargs.get("data", kwargs.get("text"))
    s.attrs["bytes_written"] = len(data.encode() if isinstance(data, str) else data)


def _put_if_absent(s, args, kwargs, out):
    _written_payload(s, args, kwargs, out)
    s.attrs["cas_conflict"] = out is False


def _written_object(s, args, kwargs, out):
    dst = args[1] if len(args) > 1 else kwargs.get("path", kwargs.get("dst_path"))
    s.attrs["bytes_written"] = _size(dst)


def _spill(s, args, kwargs, out):
    import os

    total = 0
    path = getattr(out, "_spill_path", None)
    if path is not None and os.path.isdir(path):
        for d, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    s.attrs["bytes_written"] = total


_ACCOUNTS = {
    "read_bytes": _read_len,
    "read_head": _read_len,
    "read_text": _read_len,
    "read_parquet": _read_object,
    "write_bytes": _written_payload,
    "write_text": _written_payload,
    "put_if_absent": _put_if_absent,
    "promote_local": _written_object,
    "write_parquet": _written_object,
    "spill_to_parquet": _spill,
}


# ----------------------------------------------------------- metrics

# metric -> span name whose self time it sums
SELF_TIME = {
    "operators.build_self_s": "operators.build",
    "spark.plan_s": "spark.plan",
    "spark.exec_s": "spark.exec",
    "materialize.spill_s": "materialize.spill",
    "catalog.lance_sql_s": "catalog.lance_sql",
    "maintenance.dml_s": "maintenance.dml",
    "lance_format.commit_s": "lance_format.commit",
    "lance_format.read_manifest_s": "lance_format.read_manifest",
    "vector_index.build_s": "vector_index.build",
    "vector_index.search_s": "vector_index.search",
    "fts.ensure_index_s": "fts.ensure_index",
    "fts.search_s": "fts.search",
    "trace.unattributed_s": "statement",
}

# metric -> span name whose calls it counts
CALLS = {
    "materialize.spill_calls": "materialize.spill",
    "catalog.lance_sql_calls": "catalog.lance_sql",
    "lance_format.commits": "lance_format.commit",
    "lance_format.read_manifest_calls": "lance_format.read_manifest",
    "lance_format.list_versions_calls": "lance_format.list_versions",
    "vector_index.read_meta_calls": "vector_index.read_meta",
    "iolayer.get_calls": "iolayer.get",
    "iolayer.put_calls": "iolayer.put",
    "iolayer.list_calls": "iolayer.list",
    "iolayer.head_calls": "iolayer.head",
    "iolayer.delete_calls": "iolayer.delete",
}

UNITS = {
    "statements_per_s": "1/s",
    "trace.statements_per_s": "1/s",
    "bytes_stored_per_user_byte": "ratio",
    "driver.python_peak_rss_mb": "MB",
    "driver.jvm_peak_rss_mb": "MB",
}
SUFFIX_UNITS = {"_s": "s", "_bytes": "bytes", "_ratio": "ratio", "_share": "ratio"}


def unit_of(metric: str) -> str:
    if metric in UNITS:
        return UNITS[metric]
    for suffix, unit in SUFFIX_UNITS.items():
        if metric.endswith(suffix):
            return unit
    return "bytes" if ".bytes_" in metric else "count"


def layer_metrics(spans: list[Span], passes: int) -> dict[str, float]:
    """Per-layer metrics of the traced passes, each per pass."""
    by_id = {s.sid: s for s in spans}
    out = {m: 0.0 for m in (*SELF_TIME, *CALLS)}
    extra = dict.fromkeys(
        ("spark.jobs", "spark.tasks", "materialize.spill_jobs", "materialize.spill_bytes",
         "iolayer.io_s", "iolayer.bytes_read", "iolayer.bytes_written"),
        0.0,
    )
    out.update(extra)
    self_metric = {v: k for k, v in SELF_TIME.items()}
    call_metric = {v: k for k, v in CALLS.items()}
    cas_attempts = cas_conflicts = 0
    for s in spans:
        if s.name in self_metric:
            out[self_metric[s.name]] += s.self_s
        out["spark.jobs"] += s.attrs.get("jobs", 0)
        out["spark.tasks"] += s.attrs.get("tasks", 0)
        if s.name == "materialize.spill":
            out["materialize.spill_jobs"] += s.attrs.get("jobs", 0)
            out["materialize.spill_bytes"] += s.attrs.get("bytes_written", 0)
        if s.name.startswith("iolayer."):
            out["iolayer.io_s"] += s.self_s
            parent = by_id.get(s.parent)
            if parent is not None and parent.name.startswith("iolayer."):
                continue  # one verb of the outer call, already counted
            out["iolayer.bytes_read"] += s.attrs.get("bytes_read", 0)
            out["iolayer.bytes_written"] += s.attrs.get("bytes_written", 0)
            if "cas_conflict" in s.attrs:
                cas_attempts += 1
                cas_conflicts += s.attrs["cas_conflict"]
        if s.name in call_metric:
            out[call_metric[s.name]] += 1
    metrics = {k: v / passes for k, v in out.items()}
    metrics["iolayer.cas_conflict_ratio"] = cas_conflicts / cas_attempts if cas_attempts else 0.0
    return metrics

