"""job_commit: the committed job path over a crawl of long pages.

One round, in order: `enqueue` with a partition target that yields WAVES
waves of the default wave size; `run_extract_job` stopped after
STOP_AFTER waves and then resumed; `retry_failed`; `enqueue_increment`
plus a run for a second crawl that half-overlaps the first; `export_run`
of the base run and the increment. Each step is one operation.
"""

from __future__ import annotations

import collections
import math
import random
import shutil
import time

from perfbench import common as C
from perfbench import pages as P

DOCS = 800
FILES = 16
WAVE_SIZE = 8  # the CLI's --wave-size default
WAVES = 3
STOP_AFTER = 1
SAMPLE = 100  # committed long pages word-bag checked per run
STEPS = 7


def _inputs(seed: int):
    base_rows, truth = P.corpus(range(DOCS), seed, long=True)
    inc_rows, _ = P.corpus(range(DOCS // 2, DOCS + DOCS // 2), seed, long=True)
    root = C.CACHE / "job_commit" / f"seed{seed}-docs{DOCS}-files{FILES}"
    for name, rows in (("base", base_rows), ("crawl2", inc_rows)):
        if not (root / f"{name}.parquet").exists():
            P.write_parquet(rows, root / f"{name}.parquet", FILES)
    return base_rows, inc_rows, truth, root


def _round(spark, pages, pages2, targets, work, engine, tracer) -> dict:
    from engine.jobs import extract_job as J

    target, inc_target = targets
    shutil.rmtree(work, ignore_errors=True)
    runs, dest = str(work / "runs"), str(work / "export")
    c0 = engine.cpu_s()
    t0 = time.perf_counter()
    with tracer.span("jobs.enqueue"):
        m = J.enqueue(spark, pages, runs, target_partition_bytes=target, run_id="base")
    with tracer.span("jobs.run"):
        J.run_extract_job(spark, pages, m, wave_size=WAVE_SIZE, max_waves=STOP_AFTER)
    with tracer.span("jobs.run"):
        J.run_extract_job(spark, pages, m, wave_size=WAVE_SIZE)
    t1 = time.perf_counter()
    with tracer.span("jobs.retry"):
        retried = J.retry_failed(spark, pages, m)["retried"]
    t2 = time.perf_counter()
    with tracer.span("jobs.increment_enqueue"):
        mi, inc_pages = J.enqueue_increment(
            spark, pages2, runs, ["base"], target_partition_bytes=inc_target, run_id="inc")
    with tracer.span("jobs.increment_run"):
        J.run_extract_job(spark, inc_pages, mi, wave_size=WAVE_SIZE)
    t3 = time.perf_counter()
    with tracer.span("jobs.export"):
        J.export_run(spark, [m, mi], dest)
    t4 = time.perf_counter()
    return {
        "m": m, "mi": mi, "dest": dest, "retried": retried,
        "job": t1 - t0, "retry": t2 - t1, "increment": t3 - t2, "export": t4 - t3,
        "round": t4 - t0, "cpu": engine.cpu_s() - c0,
    }


def _check(spark, r, base_rows, inc_rows, truth, seed) -> list[str]:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from engine.jobs import extract_job as J

    errs = []
    m, mi = r["m"], r["mi"]
    committed = J.read_extracted(spark, m).select("url", "status", "error", "text").collect()
    if collections.Counter(x.url for x in committed) != collections.Counter(
        x["url"] for x in base_rows
    ):
        errs.append("committed url multiset differs from the input's")
    n_parts = m.state()["n_partitions"]
    if not m.is_complete() or m.committed_partitions() != list(range(n_parts)):
        errs.append("base manifest incomplete")
    seen, docs = [], 0
    for wave in sorted(m.lineage_dir.glob("wave-*.parquet")):
        t = pq.read_table(wave).to_pydict()
        seen.extend(t["partition_id"])
        docs += sum(t["doc_count"])
    if docs != len(committed):
        errs.append(f"lineage doc_count {docs} != committed rows {len(committed)}")
    if sorted(seen) != list(range(n_parts)):
        errs.append("a partition is missing from, or repeated across, the wave files")

    failed = {x.url for x in committed if x.status == "failed"}
    retry = pq.read_table(m.extracted_path + "_retry", columns=["url"]).column("url").to_pylist()
    want_retry = [x["url"] for x in base_rows if x["url"] in failed]
    if sorted(retry) != sorted(want_retry) or r["retried"] != len(want_retry):
        errs.append("retried rows differ from the failed urls")

    base_urls = {x["url"] for x in base_rows}
    new_urls = {x["url"] for x in inc_rows} - base_urls
    inc = [x.url for x in J.read_extracted(spark, mi).select("url").collect()]
    if sorted(inc) != sorted(new_urls):
        errs.append("increment urls differ from the crawl's new urls")

    def digest(df):
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("url", "text", "status").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    current = J.read_extracted_across(spark, str(m.root), ["base", "inc"])
    if digest(spark.read.parquet(r["dest"])) != digest(current):
        errs.append("exported rows differ from the current view")

    articles = sorted(u for u, (k, _) in truth.items() if k == "article")
    by_url = {x.url: x for x in committed}
    for url in random.Random(seed).sample(articles, SAMPLE):
        x = by_url[url]
        why = P.check_doc("article", truth[url][1], x.status, x.error, x.text)
        if why:
            errs.append(f"{url}: {why}")
    return errs


def run(bench) -> dict:
    spark, setup_s = C.timed_setups()
    bench.log(f"setup done, median {setup_s:.2f}s")
    engine = C.Engine(spark)
    base_rows, inc_rows, truth, root = _inputs(bench.seed)
    html_bytes = sum(len(x["html"] or b"") for x in base_rows)
    # the base run gets WAVES full waves; the increment (half the base's
    # new bytes) fits one wave, so its run skips staging
    targets = (math.ceil(html_bytes / (WAVES * WAVE_SIZE)), math.ceil(html_bytes / WAVE_SIZE))
    pages = spark.read.parquet(str(root / "base.parquet"))
    pages2 = spark.read.parquet(str(root / "crawl2.parquet"))
    work = C.CACHE / "job_commit" / "work"
    bench.log(f"inputs ready: {len(base_rows)} rows, {html_bytes / 1e6:.1f} MB html")

    rounds = []
    t_end = time.perf_counter() + bench.seconds
    while not rounds or time.perf_counter() < t_end:
        rounds.append(_round(spark, pages, pages2, targets, work, engine, bench.untraced))
        bench.log("round {}: {}".format(len(rounds), {
            k: round(v, 2) for k, v in rounds[-1].items() if isinstance(v, float)}))
    last = rounds[-1]
    errs = _check(spark, last, base_rows, inc_rows, truth, bench.seed)
    bench.log(f"checked: {len(errs)} errors")

    def med(k):
        return C.median([x[k] for x in rounds])

    committed_mb = C.du_mb(last["m"].extracted_path)
    layers = {
        "job_docs_per_s": (len(base_rows) / med("job"), "docs/s"),
        "retry_s": (med("retry"), "s"),
        "increment_s": (med("increment"), "s"),
        "export_s": (med("export"), "s"),
        "committed_mb": (committed_mb, "MB"),
    }
    if bench.trace:
        # the timed round is the JVM's first; compare the traced round with
        # an untraced round that also follows one
        warm = _round(spark, pages, pages2, targets, work, engine, bench.untraced)
        layers.update(_traced(spark, pages, pages2, targets, work, engine, bench, html_bytes))
        layers["trace.overhead_ratio"] = (layers.pop("_round") / warm["round"], "ratio")
    e2e = {
        "round_s": (med("round"), "s"),
        "cpu_s": (med("cpu"), "s"),
        "setup_s": (setup_s, "s"),
    }
    layers["peak_rss_mb"] = (engine.peak_rss_mb(), "MB")
    C.shutdown(spark)
    shutil.rmtree(work, ignore_errors=True)
    for e in errs[:10]:
        bench.log(e)
    return bench.finish(not errs, STEPS * len(rounds), 0, e2e, layers)


def _traced(spark, pages, pages2, targets, work, engine, bench, html_bytes) -> dict:
    """One more round with spans around the job path's own functions."""
    import pyarrow.parquet as pq

    from engine.jobs import extract_job as J
    from engine.manifest import RunManifest

    tr = bench.tracer
    staged = []  # MB of each staged copy, measured before the run deletes it
    stage = J.stage_pages

    def traced_stage(spark_, pages_, manifest):
        with tr.span("jobs.stage"):
            path = stage(spark_, pages_, manifest)
        staged.append(C.du_mb(path))
        return path

    J.stage_pages = traced_stage
    try:
        with tr.wrapped(RunManifest, {"commit_partitions": "manifest.commit"}):
            r = _round(spark, pages, pages2, targets, work, engine, tr)
    finally:
        J.stage_pages = stage
    m = r["m"]
    waves = sorted(m.lineage_dir.glob("wave-*.parquet"))
    # every lineage row of a wave carries that wave's wall_ms
    wall_s = sum(max(pq.read_table(w).column("wall_ms").to_pylist()) for w in waves) / 1e3
    n_inc = spark.read.parquet(str(m.root / "inc" / "increment_input")).count()
    files = C.data_files(m.extracted_path)
    committed_mb = C.du_mb(m.extracted_path)
    run_s = tr.total("jobs.run")
    stage_s = tr.total("jobs.stage", parent="jobs.run")
    return {
        "_round": r["round"],
        "jobs.enqueue_s": (tr.total("jobs.enqueue"), "s"),
        "jobs.stage_s": (stage_s, "s"),
        "jobs.staged_mb": (staged[0] if staged else 0.0, "MB"),
        "jobs.waves": (len(waves), "count"),
        "jobs.extract_write_s": (wall_s, "s"),
        "jobs.lineage_commit_s": (run_s - stage_s - wall_s, "s"),
        "manifest.commit_s": (tr.total("manifest.commit"), "s"),
        "jobs.files_written": (len(files), "count"),
        "jobs.written_mb_per_html_mb": (committed_mb / (html_bytes / 1e6), "ratio"),
        "jobs.retry_docs": (r["retried"], "count"),
        "jobs.retry_files_written": (len(C.data_files(m.extracted_path + "_retry")), "count"),
        "jobs.increment_new_docs": (n_inc, "count"),
        "jobs.increment_enqueue_s": (tr.total("jobs.increment_enqueue"), "s"),
        "jobs.increment_run_s": (tr.total("jobs.increment_run"), "s"),
    }
