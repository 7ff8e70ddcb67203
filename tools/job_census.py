"""Spark job census: which package line launches each Spark job of a set
of registry statements, with its tasks and the action's wall time.

    python tools/job_census.py SF_DIR --workload lance_dml --passes 2
    python tools/job_census.py SF_DIR lance_merge lance_sql_delete

Each statement runs on the fresh path of perfbench (build, plan,
``toPandas()``) in the session that ``session.get_spark`` makes. For the
run, and inside this tool only, every DataFrame action and every
``DataFrameWriter`` save runs in a job group of its own; the outermost
such call owns the jobs of the calls it makes. Afterwards the groups are
read back through ``statusTracker``. Per statement it prints one line per
call that ran a job: the innermost ``lance_duckdb_spark`` frame on the
call's stack (or the tool's own line for the final ``toPandas``), the action, the
job ids, their tasks (completed + failed, as perfbench counts them) and
the action's wall time. Jobs started outside any wrapped call (e.g. by
schema inference) are listed as ``(outside an action)``.
"""

from __future__ import annotations

import argparse
import functools
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "lance_duckdb_spark") + os.sep
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DATAFRAME_ACTIONS = (
    "collect", "count", "toPandas", "toArrow", "take", "head", "first", "show",
    "isEmpty", "toLocalIterator", "foreach", "foreachPartition",
)
WRITER_ACTIONS = ("save", "saveAsTable", "insertInto", "parquet", "json", "csv", "orc", "text")
OUTSIDE = "(outside an action)"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sf_dir", help="directory of the input parquet tables")
    p.add_argument("statements", nargs="*", help="registry names")
    p.add_argument("--workload", help="the statements of a perfbench workload")
    p.add_argument("--passes", type=int, default=1, help="passes over the statements")
    return p.parse_args(argv)


def call_site() -> str:
    """``file:line`` of the innermost package frame on the stack, else of
    the innermost frame outside pyspark and this tool's wrapper."""
    fallback = None
    frame = sys._getframe(2)
    while frame is not None:
        path = frame.f_code.co_filename
        if path.startswith(PACKAGE):
            return f"{os.path.relpath(path, PACKAGE)}:{frame.f_lineno}"
        if fallback is None and f"{os.sep}pyspark{os.sep}" not in path:
            fallback = f"{os.path.relpath(path, REPO)}:{frame.f_lineno}"
        frame = frame.f_back
    return fallback or "?"


class JobCensus:
    """Wraps the actions, gives each outermost call a job group and reads
    the groups' jobs back."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._depth = 0
        self._statement = None
        self._calls: list[tuple[str, str, str, float]] = []  # group, site, action, wall

    def install(self, spark) -> None:
        # the session's own classes: pyspark.sql.DataFrame is only the
        # base of the classic and Connect implementations
        df = spark.range(0)
        for cls, names in ((type(df), DATAFRAME_ACTIONS), (type(df.write), WRITER_ACTIONS)):
            for name in names:
                if hasattr(cls, name):
                    setattr(cls, name, self._wrap(getattr(cls, name)))

    def _wrap(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._statement is None or self._depth:
                return fn(*args, **kwargs)
            group = f"{self._statement}#{len(self._calls)}"
            site = call_site()
            self._sc.setLocalProperty("spark.jobGroup.id", group)
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._calls.append((group, site, fn.__name__, time.perf_counter() - t0))
                self._depth -= 1
                self._sc.setLocalProperty("spark.jobGroup.id", self._statement)
        return wrapper

    def run(self, label: str, thunk) -> list[tuple[str, str, list[int], int, float]]:
        """Run ``thunk`` as statement ``label``; per call that ran a job:
        (site, action, job ids, tasks, wall seconds)."""
        self._statement, self._calls = label, []
        self._sc.setLocalProperty("spark.jobGroup.id", label)
        try:
            thunk()
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._statement = None
        rows = []
        for group, site, action, wall in [(label, OUTSIDE, "", 0.0)] + self._calls:
            jobs = sorted(self._sc.statusTracker().getJobIdsForGroup(group))
            if jobs:
                rows.append((site, action, jobs, self._tasks(jobs), wall))
        return rows

    def _tasks(self, jobs: list[int]) -> int:
        tracker = self._sc.statusTracker()
        tasks = 0
        for job_id in jobs:
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                st = tracker.getStageInfo(stage_id)
                if st is not None:
                    tasks += st.numCompletedTasks + st.numFailedTasks
        return tasks


def main(argv=None) -> int:
    args = parse_args(argv)
    from codegen_census import run_statement

    from lance_duckdb_spark.materialize import purge_spill_root
    from lance_duckdb_spark.registry import QUERY_REGISTRY
    from lance_duckdb_spark.session import get_spark

    names = list(args.statements)
    if args.workload:
        from perfbench.workloads import WORKLOADS

        names += WORKLOADS[args.workload]
    unknown = [n for n in names if n not in QUERY_REGISTRY]
    if not names or unknown:
        print(f"job_census: name statements in the registry: {', '.join(unknown)}", file=sys.stderr)
        return 2

    spark = get_spark("job_census")
    spark.sparkContext.setLogLevel("ERROR")
    census = JobCensus(spark)
    census.install(spark)
    errors = 0
    try:
        for p in range(1, args.passes + 1):
            print(f"pass {p}")
            pass_jobs = pass_tasks = 0
            for name in names:
                t0 = time.perf_counter()
                try:
                    rows = census.run(
                        f"census-p{p}-{name}",
                        lambda: run_statement(spark, QUERY_REGISTRY, name, args.sf_dir),
                    )
                    status = ""
                except Exception as e:  # noqa: BLE001 -- reported, census continues
                    errors += 1
                    traceback.print_exc(limit=3)
                    rows, status = [], f"  ERROR {type(e).__name__}: {str(e).splitlines()[0][:120]}"
                jobs = sum(len(r[2]) for r in rows)
                tasks = sum(r[3] for r in rows)
                pass_jobs += jobs
                pass_tasks += tasks
                print(f"  {name}: {jobs} jobs, {tasks} tasks, {time.perf_counter() - t0:.2f}s{status}")
                for site, action, job_ids, n_tasks, wall in rows:
                    ids = ",".join(map(str, job_ids))
                    timing = f"{wall:6.3f}s" if action else ""
                    print(f"    {site:36s} {action:16s} {len(job_ids):2d} jobs [{ids}]  {n_tasks:3d} tasks  {timing}")
            purge_spill_root(spark)
            print(f"  pass {p}: {pass_jobs} jobs, {pass_tasks} tasks")
    finally:
        spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
