"""Generated-code census: how many Java classes Spark compiles, and how
much Java source it generates, for a set of registry statements run in
one session.

    python tools/codegen_census.py SF_DIR                      # every query
    python tools/codegen_census.py SF_DIR --workload ann_serving --passes 2
    python tools/codegen_census.py SF_DIR lance_merge lance_sql_delete

Each statement runs on the fresh path (build, plan, ``toPandas()``) in
the session that ``session.get_spark`` makes. Per statement it prints
the classes compiled (``CodegenMetrics`` compilation count, the
codegen cache's misses) and the generated methods whose bytecode is
over HotSpot's 8000-byte huge-method limit, which HotSpot never
JIT-compiles while ``-XX:+DontCompileHugeMethods`` (its default) holds.

It also prints the Java source that every executed
``WholeStageCodegenExec`` generated (KB, without comments and the
formatter's line numbers) and the time its ``doCodeGen`` took (Spark's own
``WholeStageCodegenExec.codeGenTime`` counter). A cached class is not
recompiled, but its source is regenerated on every execution to look
it up, so a steady pass shows 0 classes and still pays this time.
Capturing the source turns on that class's DEBUG log and its formatting
adds to the statement's wall time, not to the ``doCodeGen`` time.

After the passes it prints the distinct total, the per-statement median, p90 and
maximum, and the metaspace the compiled classes took. While the total
stays below ``spark.sql.codegen.cache.maxEntries`` nothing is evicted,
so every compile is a distinct class, and a second pass shows what
the cache does not hold.

``session.REGISTRY_CODEGEN_CLASSES`` records the census of every query
at sf0.01; re-run this tool when the registry grows.
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys
import time
import traceback
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CODEGEN_LOGGER = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
WSCG_LOGGER = "org.apache.spark.sql.execution.WholeStageCodegenExec"
HUGE_METHOD_MSG = "Generated method too long to be JIT compiled"
SOURCE_START = "public Object generate(Object[] references)"
COMMENT = re.compile(r"/\*.*?\*/|//[^\n]*", re.S)  # incl. the formatter's line numbers


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sf_dir", help="directory of the input parquet tables")
    p.add_argument("statements", nargs="*", help="registry names (default: all)")
    p.add_argument("--workload", help="the statements of a perfbench workload")
    p.add_argument("--passes", type=int, default=1, help="passes over the statements")
    return p.parse_args(argv)


class Census:
    """Reads the JVM's codegen counters, its metaspace, the
    CodeGenerator's huge-method log lines and the source that
    WholeStageCodegenExec logs."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._jvm = jvm
        self._metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._wscg = jvm.org.apache.spark.sql.execution.WholeStageCodegenExec
        self._pools = [
            p for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
            if p.getName() == "Metaspace"
        ]
        levels = jvm.org.apache.logging.log4j.Level
        # the huge-method message is logged at INFO, the generated
        # source at DEBUG
        self._buffer = self._capture(CODEGEN_LOGGER, levels.INFO)
        self._source = self._capture(WSCG_LOGGER, levels.DEBUG)

    def _capture(self, name: str, level):
        """Route one logger alone into a buffer, off the console."""
        jvm = self._jvm
        core = jvm.org.apache.logging.log4j.core
        buffer = jvm.java.io.StringWriter()
        layout = core.layout.PatternLayout.newBuilder().withPattern("%m%n").build()
        appender = (
            core.appender.WriterAppender.newBuilder()
            .setName(f"codegen-census-{name}").setTarget(buffer).setLayout(layout).build()
        )
        appender.start()
        logger = jvm.org.apache.logging.log4j.LogManager.getContext(False).getLogger(name)
        logger.addAppender(appender)  # gives the logger a config of its own
        logger.setAdditive(False)
        core.config.Configurator.setLevel(name, level)
        return buffer

    def compiles(self) -> int:
        return self._metrics.METRIC_COMPILATION_TIME().getCount()

    def codegen_ms(self) -> float:
        """Total ``doCodeGen`` time of the JVM so far."""
        return self._wscg.codeGenTime() / 1e6

    def take_sources(self) -> tuple[int, float]:
        """(whole-stage sources generated, their KB) since the last call."""
        text = self._source.toString()
        self._source.getBuffer().setLength(0)
        return text.count(SOURCE_START), len(COMMENT.sub("", text)) / 1024

    def metaspace_mb(self) -> float:
        return sum(p.getUsage().getUsed() for p in self._pools) / 2**20

    def take_huge_methods(self) -> list[str]:
        """Huge methods logged since the last call, as ``class.method is N bytes``."""
        text = self._buffer.toString()
        self._buffer.getBuffer().setLength(0)
        return [
            line.split(": ", 1)[1]
            for line in text.splitlines()
            if line.startswith(HUGE_METHOD_MSG)
        ]


def run_statement(spark, registry, name: str, sf_dir: str) -> None:
    """The fresh path of perfbench: build, plan, execute."""
    df = registry[name](spark, sf_dir)
    df._jdf.queryExecution().executedPlan()
    df.toPandas()


def main(argv=None) -> int:
    args = parse_args(argv)
    from lance_duckdb_spark.materialize import purge_spill_root
    from lance_duckdb_spark.registry import QUERY_REGISTRY
    from lance_duckdb_spark.session import REGISTRY_CODEGEN_CLASSES, get_spark

    names = list(args.statements)
    if args.workload:
        from perfbench.workloads import WORKLOADS

        names += WORKLOADS[args.workload]
    names = names or sorted(QUERY_REGISTRY)
    unknown = [n for n in names if n not in QUERY_REGISTRY]
    if unknown:
        print(f"codegen_census: not in the registry: {', '.join(unknown)}", file=sys.stderr)
        return 2

    spark = get_spark("codegen_census")
    spark.sparkContext.setLogLevel("ERROR")
    census = Census(spark)
    capacity = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    census.take_huge_methods()
    census.take_sources()
    meta_before = census.metaspace_mb()
    counts: list[int] = []  # classes per statement, first pass
    huge: list[str] = []  # huge methods, first pass
    errors = 0
    try:
        for p in range(1, args.passes + 1):
            print(f"pass {p}")
            pass_start, pass_ms, pass_kb = census.compiles(), census.codegen_ms(), 0.0
            for name in names:
                start, t0, ms0 = census.compiles(), time.perf_counter(), census.codegen_ms()
                try:
                    run_statement(spark, QUERY_REGISTRY, name, args.sf_dir)
                    status = ""
                except Exception as e:  # noqa: BLE001 -- reported, census continues
                    errors += 1
                    traceback.print_exc(limit=3)
                    status = f"  ERROR {type(e).__name__}: {str(e).splitlines()[0][:120]}"
                n = census.compiles() - start
                methods = census.take_huge_methods()
                stages, kb = census.take_sources()
                pass_kb += kb
                if p == 1:
                    counts.append(n)
                    huge += methods
                print(
                    f"  {name:40s} classes {n:4d}  huge methods {len(methods):2d}"
                    f"  source {kb:6.0f} KB in {stages:3d} stages"
                    f"  doCodeGen {census.codegen_ms() - ms0:6.0f} ms"
                    f"  {time.perf_counter() - t0:6.2f}s{status}"
                )
            purge_spill_root(spark)
            print(
                f"  pass {p} compiled {census.compiles() - pass_start} classes,"
                f" generated {pass_kb:.0f} KB of source"
                f" in {census.codegen_ms() - pass_ms:.0f} ms of doCodeGen"
            )
        meta_after = census.metaspace_mb()
    finally:
        spark.stop()

    counts.sort()
    total = sum(counts)
    p90 = counts[min(len(counts) - 1, int(0.9 * len(counts)))]
    print(
        f"distinct classes {total} over {len(counts)} statements"
        f" (per statement median {statistics.median(counts):g}, p90 {p90}, max {counts[-1]})"
    )
    print(f"codegen cache {capacity} entries; registry census in session.py {REGISTRY_CODEGEN_CLASSES}")
    if total >= capacity:
        print("  the total reached the cache size: later compiles may be re-compiles")
    print(f"metaspace {meta_before:.0f} -> {meta_after:.0f} MB")
    all_huge = Counter(huge)
    print(
        f"generated methods over 8000 bytes: {sum(all_huge.values())} compiled,"
        f" {len(all_huge)} distinct"
    )
    for m, n in all_huge.items():
        print(f"  {n}x {m}")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
