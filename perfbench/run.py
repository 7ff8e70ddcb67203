"""Fresh-path benchmark: build each registry statement's plan with its
eager staging jobs, plan it, execute it, and check it against its
DuckDB oracle. One client in one driver process, closed loop.

    python3 perfbench/run.py --workload lance_dml --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Prints one JSON object as the last
line of standard output; see README.md for the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import tracing  # noqa: E402
from perfbench.workloads import REQUIRED_SPANS, WORKLOADS  # noqa: E402

SF_DIR = Path(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
LANCE_WORKDIR = Path("/tmp/lance_duckdb_spark")  # hard-coded by the operators
WORK = ROOT / ".perfbench"
DRIVER_MEM = "4g"
SHUFFLE_PARTITIONS = "8"
MAX_RUN_S = 120.0  # no pass starts after this; keeps a run under 180 s


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_stale() -> None:
    """Remove the scratch directories of earlier runs that did not finish."""
    for d in WORK.glob("run-*"):
        pid = d.name[len("run-"):]
        if pid.isdigit() and not _pid_alive(int(pid)):
            shutil.rmtree(d, ignore_errors=True)


def source_digest() -> str:
    """Hash of the checkout path and the package's source files."""
    h = hashlib.sha1(str(ROOT).encode())
    pkg = ROOT / "lance_duckdb_spark"
    for f in sorted(pkg.rglob("*")):
        if f.is_file() and "__pycache__" not in f.parts:
            h.update(str(f.relative_to(pkg)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:12]


def dataset_tag(workload: str) -> str:
    """The operators name every dataset they write after the input
    directory (``/tmp/lance_duckdb_spark/<basename>/...``), so an input
    copy named per checkout, code version and workload gives the run a
    root of its own. Staged indexes are then reused only by runs of
    the same code."""
    return f"{SF_DIR.name}_perfbench_{workload}_{source_digest()}"


def sweep_other_versions(workload: str, tag: str) -> None:
    """Remove this checkout's input copies and staged roots of other
    code versions."""
    for parent in (WORK / "data", WORK / "staged"):
        for d in parent.glob(f"{SF_DIR.name}_perfbench_{workload}_*"):
            if d.name != tag:
                shutil.rmtree(d, ignore_errors=True)


def copy_data(tag: str) -> Path:
    """Copy the input tables into the checkout once; runs reuse the copy."""
    dst = WORK / "data" / tag
    dst.mkdir(parents=True, exist_ok=True)
    for src in sorted(SF_DIR.glob("*.parquet")):
        out = dst / src.name
        if not out.exists() or out.stat().st_size != src.stat().st_size:
            shutil.copyfile(src, out)
    return dst


@contextlib.contextmanager
def staged_datasets(tag: str):
    """Keep the datasets the program writes under its hard-coded root
    only while the run lasts. Between runs they wait in the checkout,
    so indexes that the program stages once per input (and reuses when
    their content key still matches) are built by the first run of a
    checkout and code version and served to the later ones."""
    live, kept = LANCE_WORKDIR / tag, WORK / "staged" / tag
    shutil.rmtree(live, ignore_errors=True)  # left by a run that was killed
    if kept.is_dir():
        live.parent.mkdir(parents=True, exist_ok=True)
        shutil.move(kept, live)
    try:
        yield live
    finally:
        shutil.rmtree(kept, ignore_errors=True)
        if live.is_dir():
            kept.parent.mkdir(parents=True, exist_ok=True)
            shutil.move(live, kept)
        with contextlib.suppress(OSError):
            LANCE_WORKDIR.rmdir()  # only if nothing else lives there


def pin_environment(run_dir: Path) -> dict:
    """Pin the session's resources and keep its scratch state in ``run_dir``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": SHUFFLE_PARTITIONS,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = None
    env["ram_mb"] = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return env


def tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) if path.is_dir() else 0


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for task in Path(f"/proc/{p}/task").glob("*/children"):
            try:
                kids = [int(c) for c in task.read_text().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    kids = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in kids:
        while _pid_alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _pid_alive(pid):
            os.kill(pid, signal.SIGKILL)


class LoadRecorder:
    """Records which input tables each statement reads, by wrapping
    the table loaders and the parquet reader for the warm-up pass."""

    def __init__(self, bench: "Bench"):
        self.bench = bench
        self.tables: dict[str, set[str]] = {}
        self._undo = []

    def _note(self, path) -> None:
        path = str(path)
        if path.startswith(self.bench.sf_dir) and path.endswith(".parquet"):
            self.tables.setdefault(self.bench.current, set()).add(Path(path).stem)

    def install(self) -> None:
        import functools

        from pyspark.sql import readwriter

        from lance_duckdb_spark import tables

        rec = self
        orig_load = tables.load
        orig_parquet = readwriter.DataFrameReader.parquet

        @functools.wraps(orig_load)
        def load(spark, sf_dir, name):
            rec._note(f"{sf_dir}/{name}.parquet")
            return orig_load(spark, sf_dir, name)

        @functools.wraps(orig_parquet)
        def parquet(self, *paths, **options):
            for p in paths:
                rec._note(p)
            return orig_parquet(self, *paths, **options)

        self._undo = tracing.rebind({id(orig_load): (orig_load, load)})
        readwriter.DataFrameReader.parquet = parquet
        self._undo.append((readwriter.DataFrameReader, "parquet", orig_parquet))

    def restore(self) -> None:
        tracing.unbind(self._undo)
        self._undo = []


class Bench:
    def __init__(self, spark, sf_dir: Path, statements: list[str], oracle: dict):
        from lance_duckdb_spark.registry import QUERY_REGISTRY

        self.spark = spark
        self.sf_dir = str(sf_dir)
        self.statements = statements
        self.registry = QUERY_REGISTRY
        self.oracle = oracle
        self.tracer: tracing.Tracer | None = None
        self.failures: list[str] = []
        self.current = ""

    def _execute(self, name: str):
        """One statement on the fresh path: build (with its eager
        staging jobs), plan, execute. Returns the result as pandas."""
        span = self._span
        with span("operators.build"):
            df = self.registry[name](self.spark, self.sf_dir)
        with span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with span("spark.exec"):
            return df.toPandas()

    def statement(self, name: str, stmt_id: str) -> tuple[float, bool]:
        from tests.oracle import _approx_eq, _rows

        self.current = name
        if self.tracer is not None:
            self.tracer.stmt = stmt_id
        try:
            with self._span("statement"):
                t0 = time.perf_counter()
                pdf = self._execute(name)
                latency = time.perf_counter() - t0
        except Exception:
            self.failures.append(f"{stmt_id}: {traceback.format_exc(limit=3)}")
            return 0.0, False
        # oracle gate, after the timer: tests/oracle.py's canonical comparison
        gcols, grows = _rows(pdf)
        ecols, erows = self.oracle[name]
        ok = (
            gcols == ecols
            and len(grows) == len(erows) > 0
            and all(_approx_eq(g, e) for g, e in zip(grows, erows))
        )
        if not ok:
            self.failures.append(f"{stmt_id}: result differs from its DuckDB oracle")
        return latency, ok

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def run_pass(self, order: list[str], label: str) -> list[tuple[str, float, bool]]:
        from lance_duckdb_spark.materialize import purge_spill_root

        out = [(n, *self.statement(n, f"{label}:{i}:{n}")) for i, n in enumerate(order)]
        purge_spill_root(self.spark)
        return out


def evaluate_oracles(sf_dir: Path, statements: list[str]) -> dict:
    from lance_duckdb_spark.registry import ORACLE_REGISTRY
    from tests.oracle import _rows, duckdb_connection

    con = duckdb_connection(str(sf_dir))
    try:
        return {
            n: _rows(
                con.execute(ORACLE_REGISTRY[n])
                .fetch_arrow_table()
                .to_pandas(date_as_object=True, types_mapper=None)
            )
            for n in statements
        }
    finally:
        con.close()


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    missing = [
        p for p in (ROOT / "lance_duckdb_spark", ROOT / "tests" / "oracle.py", SF_DIR)
        if not p.exists()
    ]
    if missing:
        print(f"perfbench: missing {', '.join(map(str, missing))}", file=sys.stderr)
        return 2

    # benchmark housekeeping, outside setup_s
    sweep_stale()
    run_dir = WORK / f"run-{os.getpid()}"
    disk_before = shutil.disk_usage(ROOT).free
    env = pin_environment(run_dir)
    tag = dataset_tag(args.workload)
    sweep_other_versions(args.workload, tag)
    sf_dir = copy_data(tag)
    statements = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    phases = {"housekeeping_s": time.perf_counter() - t_start}
    spark = None
    try:
        t = time.perf_counter()
        with staged_datasets(tag) as lance_root:
            phases["unstage_s"] = time.perf_counter() - t

            # setup_s is the session start (with the package import)
            # plus one untimed warm-up pass; the DuckDB oracles between
            # them are the benchmark's own work and are left out
            t = time.perf_counter()
            from lance_duckdb_spark.session import get_spark

            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            spark.conf.set("spark.lance_duckdb_spark.spillDir", str(run_dir / "spill"))
            phases["session_s"] = time.perf_counter() - t

            t = time.perf_counter()
            bench = Bench(spark, sf_dir, statements, evaluate_oracles(sf_dir, statements))
            phases["oracle_s"] = time.perf_counter() - t

            # the warm-up pass also records the tables each statement reads
            loads = LoadRecorder(bench)
            loads.install()
            t = time.perf_counter()
            try:
                warmup = bench.run_pass(rng.sample(statements, len(statements)), "warmup")
            finally:
                phases["warmup_s"] = time.perf_counter() - t
                loads.restore()
            warm_failures = sum(not ok for *_, ok in warmup)
            setup_s = phases["session_s"] + phases["warmup_s"]

            t = time.perf_counter()
            result = (trace_run if args.trace else timed_run)(bench, rng, args, t_start)
            result["detail"].update(
                warmup_failures=warm_failures,
                warmup_latency_s={n: round(lat, 4) for n, lat, _ in warmup},
            )
            if args.trace == 0:
                stored = tree_bytes(lance_root)
                user = sum(
                    (sf_dir / f"{table}.parquet").stat().st_size
                    for n in statements
                    for table in sorted(loads.tables.get(n, ()))
                )
                result["metrics"]["setup_s"] = setup_s
                result["metrics"]["bytes_stored_per_user_byte"] = stored / user if user else 0.0
                result["detail"].update(stored_bytes=stored, user_bytes=user)
            else:
                result["metrics"]["driver.python_peak_rss_mb"] = vm_hwm_kb("self") / 1024
                result["metrics"]["driver.jvm_peak_rss_mb"] = (
                    vm_hwm_kb(spark.sparkContext._gateway.proc.pid) / 1024
                )
            phases["measure_s"] = time.perf_counter() - t
            t = time.perf_counter()
            stop_spark(spark)
            spark = None
            phases["teardown_s"] = time.perf_counter() - t
            t = time.perf_counter()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["restage_s"] = time.perf_counter() - t

    detail = result.pop("detail")
    detail.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        statements=statements, failures=bench.failures, phases=phases,
        disk_free_mb_before=disk_before // 2**20,
        disk_free_mb_after=shutil.disk_usage(ROOT).free // 2**20,
        env=env,
    )
    print(json.dumps({"detail": detail}))
    metrics = {k: {"value": v, "unit": tracing.unit_of(k)} for k, v in result["metrics"].items()}
    print(json.dumps({
        "correct": result["failed"] == 0 and warm_failures == 0 and not result["problems"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


def _passes(bench: Bench, rng, seconds: float, t_start: float, label: str, first=None):
    """Whole passes, each in a seed-permuted order (the first one in
    ``first`` if given), until they have taken ``seconds`` of wall
    time. Returns the samples, the passes and their wall time."""
    samples, passes, wall = [], 0, 0.0
    while passes == 0 or (wall < seconds and time.perf_counter() - t_start < MAX_RUN_S):
        order = first if first and passes == 0 else rng.sample(bench.statements, len(bench.statements))
        t = time.perf_counter()
        samples += bench.run_pass(order, f"{label}{passes}")
        wall += time.perf_counter() - t
        passes += 1
    return samples, passes, wall


def timed_run(bench: Bench, rng, args, t_start: float) -> dict:
    samples, passes, wall = _passes(bench, rng, args.seconds, t_start, "pass")
    lats = [lat for _, lat, ok in samples if ok]
    failed = sum(not ok for *_, ok in samples)
    return {
        "attempted": len(samples),
        "failed": failed,
        "problems": [],
        "metrics": {
            "statements_per_s": (len(samples) - failed) / wall,
            "latency_gmean_s": statistics.geometric_mean(lats) if lats else 0.0,
        },
        "detail": {
            "passes": passes,
            "latency_p50_s": statistics.median(lats) if lats else None,
            "samples": len(samples),
            "failed_ratio": failed / len(samples),
            "latency_by_statement": {
                n: [round(lat, 4) for m, lat, _ in samples if m == n] for n in bench.statements
            },
        },
    }


def trace_run(bench: Bench, rng, args, t_start: float) -> dict:
    # untraced passes before and after the first traced one, all in the
    # same order, give the tracing overhead net of the warm-up drift
    order = rng.sample(bench.statements, len(bench.statements))
    plain = bench.run_pass(order, "untraced-before")
    tracer = tracing.Tracer(bench.spark.sparkContext)
    problems = tracer.install()
    bench.tracer = tracer
    try:
        samples, passes, wall = _passes(bench, rng, args.seconds, t_start, "trace", order)
    finally:
        bench.tracer = None
        problems += tracer.restore()
    plain += bench.run_pass(order, "untraced-after")
    tracer.resolve_jobs(tracer.spans)
    plain_s = sum(lat for _, lat, _ in plain) / 2
    traced_s = sum(lat for _, lat, _ in samples[: len(order)])

    stmt_spans: dict[str, set[str]] = {}
    for s in tracer.spans:
        stmt_spans.setdefault(s.stmt, set()).add(s.name)
    for stmt, names in stmt_spans.items():
        need = REQUIRED_SPANS.get(stmt.rsplit(":", 1)[-1])
        if need and need not in names:
            problems.append(f"{stmt}: no {need} span")
    for p in problems:
        print(f"perfbench: self-check failed: {p}", file=sys.stderr)

    traces = WORK / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    path = traces / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
    path.write_text(json.dumps([s.to_json() for s in tracer.spans]))

    traced_failed = sum(not ok for *_, ok in samples)
    metrics = tracing.layer_metrics(tracer.spans, passes)
    metrics["trace.statements_per_s"] = (len(samples) - traced_failed) / wall
    metrics["trace.overhead_share"] = traced_s / plain_s - 1 if plain_s else 0.0
    return {
        "attempted": len(samples) + len(plain),
        "failed": traced_failed + sum(not ok for *_, ok in plain),
        "problems": problems,
        "metrics": metrics,
        "detail": {
            "passes": passes,
            "spans": len(tracer.spans),
            "trace_file": str(path.relative_to(ROOT)),
            "self_checks": problems or "ok",
        },
    }


if __name__ == "__main__":
    sys.exit(main())
