"""The two workloads, their set-up and their measurement loop."""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback

import inputs

CORES = 4
# The query workload, run in their queries() order: the extraction kernel
# (extract_text), the page-metadata kernel run twice over the same input
# (canonical_dedup), the shingle generators (contamination_flags), and
# two small queries whose wall is mostly per-query planning and
# scheduling (token_stats, length_quantiles).
QUERIES = (
    "extract_text", "canonical_dedup", "contamination_flags",
    "token_stats", "length_quantiles",
)
MIB = 1024 * 1024


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def setup(workload: str, seed: int, event_log: str | None):
    """get_spark, open the inputs, fixed warm-up. Returns (spark, ctx)."""
    from gocrd_spark.pipeline import extract_pages, load_pages
    from gocrd_spark.session import get_spark

    extra = {
        "spark.local.dir": os.path.join(inputs.TMP, "spark-local"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = event_log
        extra["spark.eventLog.compress"] = "false"
        extra["spark.eventLog.rolling.enabled"] = "false"
    t = time.perf_counter()
    spark = get_spark(master=f"local[{CORES}]", app_name=f"perfbench-{workload}",
                      extra=extra)
    ctx = {"session_s": time.perf_counter() - t}
    spark.sparkContext.setLogLevel("ERROR")
    ctx["extract_path"] = inputs.extract_input_path(seed)
    if workload == "extract_job":
        load_pages(spark, ctx["extract_path"])
    else:
        import __spark_entry__ as entry
        from gocrd_spark.datagen import DATAGEN_VERSION

        # the program caches its pages table under /tmp; point that cache
        # at the copy generated inside the checkout
        entry._PAGES_CACHE[f"v{DATAGEN_VERSION}_sf_{inputs.QUERY_PAGES}"] = (
            inputs.query_pages_path()
        )
        entry._pages(spark, inputs.QUERY_SF_DIR)
        entry._table(spark, inputs.QUERY_SF_DIR, "documents")
    warm = spark.range(0, 64, 1, CORES).selectExpr(
        "cast(id as string) as url", "cast(null as binary) as html"
    )
    noop(extract_pages(warm))
    return spark, ctx


class ExtractJob:
    """run_extract_job with its defaults; one operation is one document,
    the output the files under data/. Every pass writes a fresh output
    directory."""

    warmup = 1

    def __init__(self, spark, ctx):
        self.spark, self.ctx = spark, ctx
        with open(ctx["extract_path"] + ".expected.json") as fh:
            self.expected = json.load(fh)
        self.ops = len(self.expected)
        self.out_root = os.path.join(inputs.WORK, "out", str(os.getpid()))
        self.n = 0
        self.output_mib: list[float] = []

    def run_pass(self, tracer, group=None):
        from gocrd_spark.pipeline import run_extract_job

        self.n += 1
        out = os.path.join(self.out_root, f"pass{self.n}")
        t = time.perf_counter()
        try:
            with tracer.span("pipeline.run_extract_job", group=group):
                run_extract_job(self.spark, self.ctx["extract_path"], out)
        except Exception:  # the pass fails, the run goes on and reports it
            traceback.print_exc()
            shutil.rmtree(out, ignore_errors=True)
            out = None
        return time.perf_counter() - t, out

    def check(self, out) -> int:
        from expect import check_extract_output

        if out is None:
            return self.ops
        bad = check_extract_output(out, self.expected)
        data = os.path.join(out, "data")
        self.output_mib.append(sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(data) for f in files
        ) / MIB)
        shutil.rmtree(out)
        return len(bad)



class Queries:
    """Each query built and collected once per pass; one operation is
    one query, its output the collected rows (Arrow bytes). The cache is
    cleared after every pass, so no pass is served blocks that an earlier
    pass persisted."""

    warmup = 2

    def __init__(self, spark, ctx):
        import __spark_entry__ as entry
        from expect import QueryOracle

        self.spark = spark
        self.fns = entry.queries()
        self.names = [n for n in self.fns if n in QUERIES]
        self.ops = len(self.names)
        self.oracle = QueryOracle(inputs.QUERY_SF_DIR, self.names)
        self.per_query: dict[str, list[float]] = {n: [] for n in self.names}
        self.output_mib: list[float] = []
        self.plan_s: list[float] = []  # planning time per traced pass
        self.storage_mib = 0.0

    def run_pass(self, tracer, group=None):
        from tracing import plan_seconds, storage_mib

        results = {}
        total = plan = 0.0
        for name in self.names:
            t = time.perf_counter()
            try:
                with tracer.span(f"query.{name}", group=group):
                    df = self.fns[name](self.spark, inputs.QUERY_SF_DIR)
                    results[name] = df.toPandas()
            except Exception:  # the query fails, the run goes on and reports it
                traceback.print_exc()
                results[name] = df = None
            dt = time.perf_counter() - t
            total += dt
            self.per_query[name].append(dt)
            if tracer.enabled and df is not None:
                plan += plan_seconds(df)
                self.storage_mib = max(self.storage_mib, storage_mib(self.spark))
        if tracer.enabled and not (group or "").startswith("warmup"):
            self.plan_s.append(plan)
        self.spark.catalog.clearCache()
        return total, results

    def check(self, results) -> int:
        import pyarrow as pa

        self.output_mib.append(sum(
            pa.Table.from_pandas(pdf, preserve_index=False).nbytes
            for pdf in results.values() if pdf is not None
        ) / MIB)
        return sum(
            results[n] is None or not self.oracle.matches(n, results[n])
            for n in self.names
        )


WORKLOADS = {"extract_job": ExtractJob, "queries_sf001": Queries}


MIN_PASSES = 2


def measure(wl, seconds: float, tracer) -> dict:
    """``wl.warmup`` untimed passes, then passes until there are
    MIN_PASSES and their walls add up to ``seconds``. The first passes in
    a fresh session are the slow ones (JIT, first use of each Python
    worker): a query pass is still about 20 % slow on its second run,
    an extraction pass only on its first. Every pass, warm-up included,
    is checked and counted. Returns the timed passes' walls, CPU seconds
    (``cpu_s``) and job groups, the failed operations, the count of all
    passes, and the wall of the warm-up passes and of the checks."""
    from tracing import tree_cpu_s

    failed, warmup_s, check_s = 0, 0.0, 0.0

    def check(out):
        nonlocal failed, check_s
        t = time.perf_counter()
        failed += wl.check(out)
        check_s += time.perf_counter() - t

    for i in range(wl.warmup):
        wall, out = wl.run_pass(tracer, f"warmup{i}")
        warmup_s += wall
        check(out)
    walls, cpus, groups = [], [], []
    while len(walls) < MIN_PASSES or sum(walls) < seconds:
        group = f"pass{len(walls)}"
        groups.append(group)
        cpu = tree_cpu_s()
        wall, out = wl.run_pass(tracer, group)
        cpus.append(tree_cpu_s() - cpu)
        walls.append(wall)
        check(out)
    return {"walls": walls, "cpu_s": cpus, "groups": groups,
            "failed": failed, "passes": wl.warmup + len(walls),
            "warmup_s": warmup_s, "check_s": check_s}
