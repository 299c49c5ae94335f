"""extract_mix: `run_extract` into a noop sink over the generator's
template mix, at local[nproc], plus a single-core leg over a prefix.

A round is one closed-loop job: the full corpus at nproc cores. In a
traced run, the prefix (the first PREFIX_FILES of FILES files) then runs
once as one task: the single-core leg. Per-row costs (Arrow channel,
Python call) dominate; nothing is written. The traced run also carries
the query layer's pass (`perfbench.curation_queries`).
"""

from __future__ import annotations

import random
import time

from perfbench import common as C
from perfbench import curation_queries as Q
from perfbench import pages as P

DOCS = 10_000
FILES = 32
PREFIX_FILES = 4
WARM_ROUNDS = 1
SAMPLE = 200  # rows compared field by field with an in-process extract
CORE_SAMPLE = 1_500  # rows of the single-process layer pass


def _inputs(seed: int):
    rows, truth = P.corpus(range(DOCS), seed)
    path = C.CACHE / "extract_mix" / f"seed{seed}-docs{DOCS}-files{FILES}" / "pages.parquet"
    if not path.exists():
        P.write_parquet(rows, path, FILES)
    return rows, truth, path


def _check(pages, rows, truth, seed) -> list[str]:
    """Whole-corpus ground truth, plus a seeded sample of the Spark output
    against `extract_document` run in this process."""
    from pyspark.sql import functions as F

    from engine.extract.core import extract_document
    from engine.extract.udf import run_extract

    tbl = run_extract(pages).select("url", "status", "error", "text").toArrow()
    errs = P.check_outputs(truth, zip(*(c.to_pylist() for c in tbl.columns)))
    if tbl.num_rows != len(rows):
        errs.append(f"{tbl.num_rows} output rows for {len(rows)} input rows")
    by_url = {r["url"]: r["html"] for r in rows}
    sample = random.Random(seed).sample(sorted(by_url), SAMPLE)
    sampled = run_extract(pages.where(F.col("url").isin(sample)))
    got = {
        r["url"]: (r["text"], r["spans"], r["status"])
        for r in sampled.select("url", "text", "spans", "status").toArrow().to_pylist()
    }
    for url in sample:
        want = extract_document(by_url[url])
        if got.get(url) != (want["text"], want["spans"], want["status"]):
            errs.append(f"{url}: Spark output differs from extract_document")
    return errs


def _round(pages, engine, tracer):
    """One pass over the corpus at nproc cores: (wall s, CPU s)."""
    from engine.extract.udf import run_extract

    c0 = engine.cpu_s()
    with tracer.span("extract.full"):
        t0 = time.perf_counter()
        C.noop(run_extract(pages))
        wall = time.perf_counter() - t0
    return wall, engine.cpu_s() - c0


def _single_core(prefix, tracer) -> float:
    from engine.extract.udf import run_extract

    with tracer.span("extract.single_core"):
        t0 = time.perf_counter()
        C.noop(run_extract(prefix.coalesce(1)))
        return time.perf_counter() - t0


def _layers(pages, rows, seed, tracer) -> dict:
    """Traced probes: scan, identity channel, the extract plan's Python
    metrics, and a single-process pass over a seeded sample."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from engine.extract import core, udf

    cols = pages.select("url", "html")
    with tracer.span("sources.scan"):
        t0 = time.perf_counter()
        C.noop(cols)
        scan = time.perf_counter() - t0
    with tracer.span("udf.identity"):
        t0 = time.perf_counter()
        C.noop(cols.mapInArrow(lambda it: it, cols.schema))
        ident = time.perf_counter() - t0
    counted = udf.run_extract(pages).agg(F.count("*"))
    with tracer.span("udf.extract_plan"):
        counted.collect()
    m = C.plan_metrics(counted, "MapInArrow")

    sample = random.Random(seed + 1).sample(rows, CORE_SAMPLE)
    batch = pa.RecordBatch.from_pylist(
        [{"url": r["url"], "html": r["html"]} for r in sample]
    )
    names = {
        "tokenize_blocks": "core.tokenize",
        "classify_blocks": "core.classify",
        "score_containers": "core.score",
        "apply_tiebreak": "core.tiebreak",
        "extract_pdf": "core.pdf",
        "extract_html": "core.html",
    }
    with tracer.wrapped(core, names), tracer.wrapped(
        udf, {"extract_document": "core.extract_document"}
    ):
        with tracer.span("udf.batches"):
            out = list(udf.extract_batches_arrow(iter([batch])))
    statuses = [x for b in out for x in b.column("status").to_pylist()]
    html_calls = sum(tracer.total(n) for n in (
        "core.tokenize", "core.classify", "core.score", "core.tiebreak"))
    return {
        "sources.scan_s": (scan, "s"),
        "udf.channel_s": (ident - scan, "s"),
        "udf.sent_mb": (m.get("pythonDataSent", 0) / 1e6, "MB"),
        "udf.received_mb": (m.get("pythonDataReceived", 0) / 1e6, "MB"),
        "udf.python_s": (m.get("pythonTotalTime", 0) / 1e3, "s"),
        "udf.worker_start_s": (
            (m.get("pythonBootTime", 0) + m.get("pythonInitTime", 0)) / 1e3, "s"),
        "udf.batch_self_s": (
            tracer.total("udf.batches") - tracer.total("core.extract_document"), "s"),
        "core.tokenize_s": (tracer.total("core.tokenize"), "s"),
        "core.classify_s": (tracer.total("core.classify"), "s"),
        "core.score_s": (tracer.total("core.score"), "s"),
        "core.tiebreak_s": (tracer.total("core.tiebreak"), "s"),
        "core.pdf_s": (tracer.total("core.pdf"), "s"),
        "core.html_self_s": (tracer.total("core.html") - html_calls, "s"),
        "core.docs": (len(statuses), "count"),
        "core.failed_docs": (statuses.count("failed"), "count"),
    }


def run(bench) -> dict:
    spark, setup_s = C.timed_setups()
    bench.log(f"setup done, median {setup_s:.2f}s")
    engine = C.Engine(spark)
    rows, truth, path = _inputs(bench.seed)
    bench.log("inputs ready")
    pages = spark.read.parquet(str(path))
    prefix_files = sorted(str(p) for p in path.glob("part-*.parquet"))[:PREFIX_FILES]
    prefix = spark.read.parquet(*prefix_files)
    n_prefix = prefix.count()

    errs = _check(pages, rows, truth, bench.seed)
    bench.log(f"checked: {len(errs)} errors")

    # the check pass and WARM_ROUNDS untimed rounds warm the plan up: the
    # JIT keeps shortening the first rounds after the check pass
    for _ in range(WARM_ROUNDS):
        _round(pages, engine, bench.untraced)
    fulls, cpus = [], []
    t_end = time.perf_counter() + bench.seconds
    while not fulls or time.perf_counter() < t_end:
        f, c = _round(pages, engine, bench.untraced)
        fulls.append(f)
        cpus.append(c)
        bench.log(f"round {len(fulls)}: {f:.2f}s cpu {c:.1f}s")
    full = C.median(fulls)
    e2e = {
        "round_s": (full, "s"),
        "cpu_s": (C.median(cpus), "s"),
        "setup_s": (setup_s, "s"),
    }
    layers = {}
    if bench.trace:
        single = _single_core(prefix, bench.untraced)
        layers["extract_docs_per_s"] = (len(rows) / full, "docs/s")
        layers["scaling_eff"] = (
            (len(rows) / full) / (C.nproc() * n_prefix / single), "ratio")
        traced_full = _round(pages, engine, bench.tracer)[0]
        _single_core(prefix, bench.tracer)
        layers["trace.overhead_ratio"] = (traced_full / full, "ratio")
        layers.update(_layers(pages, rows, bench.seed, bench.tracer))
        # the JVM's high-water mark before the query pass adds its own
        layers["peak_rss_mb"] = (engine.peak_rss_mb(), "MB")
        queries, q_errs = Q.layers(spark, bench.seed, bench.tracer, bench.log)
        layers.update(queries)
        errs += q_errs
    C.shutdown(spark)
    for e in errs[:10]:
        bench.log(e)
    return bench.finish(not errs, len(fulls) * P.judged(truth, rows), 0, e2e, layers)
