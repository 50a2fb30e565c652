"""The traced run: the workload's passes under spans and Spark's event
log, then one probe per layer on the extraction input of the seed.

Every workload's traced run reports the same per-layer metrics: the
probes run the same on both, and the execution and planner figures are
taken per steady pass of the workload itself.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import inputs
import tracing
from workloads import CORES, measure, noop

PROBE_REPS = 3
# identity mapInPandas at two task counts; the wall slope between them is
# the per-task fixed cost of the Python boundary
BOUNDARY_TASKS = (2 * CORES, 10 * CORES)
BOUNDARY_ROWS = 20_000
KERNEL_DOCS = 500  # per batch kind
KERNEL_REPS = 5


def _timed(tracer, name, fn, group=None) -> float:
    t = time.perf_counter()
    with tracer.span(name, group=group):
        fn()
    return time.perf_counter() - t


def _kernel_batches() -> dict:
    """Fixed batches of each document kind, seed-independent."""
    import pandas as pd

    from gocrd_spark import datagen

    kinds: dict[str, list] = {"page": [], "html": [], "mets": []}
    mixed = []
    doc_id = 2
    while any(len(v) < KERNEL_DOCS for v in kinds.values()):
        row, kind, _ = datagen.make_row_with_spec(doc_id)
        if kind in kinds and len(kinds[kind]) < KERNEL_DOCS:
            kinds[kind].append({"url": row["url"], "html": row["html"]})
        if len(mixed) < KERNEL_DOCS:
            mixed.append({"url": row["url"], "html": row["html"]})
        doc_id += 1
    out = {k: pd.DataFrame(v) for k, v in kinds.items()}
    out["meta"] = pd.DataFrame(mixed)
    return out


def _kernel_rates(tracer) -> dict[str, float]:
    """Docs/s of the pure-Python kernel, one core, in this process."""
    from gocrd_spark.kernel import extract_batch, page_meta_batch

    rates = {}
    for kind, pdf in _kernel_batches().items():
        fn = page_meta_batch if kind == "meta" else extract_batch
        walls = []
        for _ in range(KERNEL_REPS):
            t = time.perf_counter()
            with tracer.span(f"kernel.{kind}"):
                fn(pdf)
            walls.append(time.perf_counter() - t)
        rates[kind] = len(pdf) / statistics.median(walls)
    return rates


def traced_run(spark, ctx, workload_cls, args, event_log) -> dict:
    from gocrd_spark.kernel import group_id
    from gocrd_spark.pipeline import extract_pages, load_pages, run_extract_job

    tracer = tracing.Tracer(spark)
    path = ctx["extract_path"]
    wl = workload_cls(spark, ctx)
    sampler = tracing.RssSampler()
    sampler.start()
    with tracer.span("workload"):
        m = measure(wl, args.seconds, tracer)
    peak_rss = sampler.stop()

    with tracer.span("probes"):
        scan = [_timed(tracer, "pipeline.load_pages", lambda: noop(
            load_pages(spark, path).select("url", "html")), f"scan{i}")
            for i in range(PROBE_REPS)]

        def identity(n_tasks):
            def passthrough(batches):  # nested: pickled by value for the workers
                yield from batches

            df = spark.range(0, BOUNDARY_ROWS, 1, n_tasks).mapInPandas(
                passthrough, "id long")
            return lambda: noop(df)

        lo, hi = BOUNDARY_TASKS
        b_lo, b_hi = [], []
        for _ in range(PROBE_REPS):
            b_lo.append(_timed(tracer, f"boundary.identity{lo}", identity(lo)))
            b_hi.append(_timed(tracer, f"boundary.identity{hi}", identity(hi)))

        kernel = _kernel_rates(tracer)

        shuffle = [_timed(tracer, "kernel.group_id.repartition", lambda: noop(
            load_pages(spark, path).select("url", "html")
            .withColumn("g", group_id(64)).repartition(64, "g")),
            f"shuffle{i}") for i in range(PROBE_REPS)]

        # sink and commit: the job pass against the same salted kernel
        # plan with a noop sink, interleaved. The job's own DataFrame is
        # internal, so on extract_job the planner is timed on this twin.
        salted = extract_pages(load_pages(spark, path), num_partitions=64)
        salted._jdf.queryExecution().executedPlan()
        twin_plan_s = tracing.plan_seconds(salted)
        out = os.path.join(inputs.WORK, "out", str(os.getpid()), "sink")
        sink_noop, job_walls = [], []
        for i in range(2):
            sink_noop.append(_timed(tracer, "pipeline.extract_pages",
                                    lambda: noop(salted)))
            job_walls.append(_timed(tracer, "pipeline.run_extract_job",
                                    lambda: run_extract_job(spark, path, f"{out}{i}")))
            shutil.rmtree(f"{out}{i}")

    plan_s = statistics.median(wl.plan_s) if getattr(wl, "plan_s", None) else twin_plan_s
    storage = getattr(wl, "storage_mib", 0.0)
    traces = os.path.join(inputs.WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.write(os.path.join(
        traces, f"spans-{args.workload}-s{args.seed}-{os.getpid()}.json"))
    spark.stop()

    events = tracing.read_event_log(event_log)
    per_pass = tracing.median_stats([tracing.group_stats(events, g) for g in m["groups"]])
    shuffle_mib = statistics.median(
        tracing.group_stats(events, f"shuffle{i}")["shuffle_write_mib"]
        for i in range(PROBE_REPS))
    med = statistics.median
    per_layer = {
        "session.start_s": (ctx["session_s"], "s"),
        "scan.s": (med(scan), "s"),
        "boundary.task_s": ((med(b_hi) - med(b_lo)) / (hi - lo), "s"),
        "boundary.python_init_s": (per_pass["python_init_s"], "s"),
        "boundary.to_python_mib": (per_pass["to_python_mib"], "MiB"),
        "boundary.from_python_mib": (per_pass["from_python_mib"], "MiB"),
        "kernel.page_docs_per_s": (kernel["page"], "docs/s"),
        "kernel.html_docs_per_s": (kernel["html"], "docs/s"),
        "kernel.mets_docs_per_s": (kernel["mets"], "docs/s"),
        "kernel.meta_docs_per_s": (kernel["meta"], "docs/s"),
        "shuffle.s": (med(shuffle), "s"),
        "shuffle.write_mib": (shuffle_mib, "MiB"),
        "sink.s": (med(job_walls) - med(sink_noop), "s"),
        "exec.jobs": (per_pass["jobs"], "count"),
        "exec.stages": (per_pass["stages"], "count"),
        "exec.tasks": (per_pass["tasks"], "count"),
        "exec.task_s": (per_pass["task_s"], "s"),
        "exec.cpu_s": (per_pass["cpu_s"], "s"),
        "exec.gc_s": (per_pass["gc_s"], "s"),
        "exec.spill_mib": (per_pass["spill_mib"], "MiB"),
        "pin.storage_mib": (storage, "MiB"),
        "plan.s": (plan_s, "s"),
        "plan.python_nodes": (per_pass["python_nodes"], "count"),
        "plan.exchanges": (per_pass["exchanges"], "count"),
        "plan.scans": (per_pass["scans"], "count"),
        "peak_rss_mib": (peak_rss, "MiB"),
        "trace.pass_s": (med(m["walls"]), "s"),
        "trace.pass_cpu_s": (med(m["cpu_s"]), "s"),
    }
    return {
        "attempted": wl.ops * m["passes"],
        "failed": m["failed"],
        "metrics": per_layer,
        "pass_s": m["walls"],
        "pass_cpu_s": m["cpu_s"],
        "per_query_s": getattr(wl, "per_query", None),
    }
