"""The three workloads: inputs, serial reference, timed Spark repetitions,
correctness gate and metrics.

Each ``run_<workload>`` returns a :class:`Result`.  Timing rules shared by
all three:

* ``setup_s`` — from process start until the first timed repetition is
  ready: imports, JVM, session, rule-base broadcast and Python-worker
  warm-up.  Input generation, the expected-output pass and input
  materialization are excluded.
* ``docs_per_s`` — median over the timed repetitions of docs out ÷ the
  repetition's wall time.
* the correctness gate checks the output of one repetition row by row
  against the serial core pass (and the ftr goldens, and the WET
  read-back).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from . import inputs, serial, trace
from .spark_harness import CORES, Harness, WorkerRss

# work per repetition (unique pages x replicas), per scale
SCALES = {
    "full": {"synth_docs": 300, "synth_replicas": 4,
             "real_replicas": 1, "real_bad_bytes": 2,
             "warc_pages": 1000, "warc_segments": 4},
    "tiny": {"synth_docs": 24, "synth_replicas": 2,
             "real_replicas": 1, "real_bad_bytes": 1,
             "warc_pages": 40, "warc_segments": 3},
}
N_FAILING = 2          # deep-nesting pages per workload (all-null rows today)
# scaling_eff is measured on synth_narrow only; the other workloads print
# this fixed stand-in, which no change can move
SCALING_EFF_UNMEASURED = 1.0
REAL_BUCKETS = 8
REAL_BUCKETS_PER_WAVE = 4      # two waves
WARC_PARTITIONS = CORES
SYNTH_PARTITIONS = 4 * CORES


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)    # per-repetition values

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.correct = False
            self.problems.append(what)


OUT_COLS = ("url", "title", "author", "date_us", "thumbnail_url", "text")


def _select_out(df):
    from pyspark.sql import functions as F

    return df.select("url", "title", "author",
                     F.unix_micros("date").alias("date_us"),
                     "thumbnail_url", "text")


def gate(res: Result, rows, pages, expected: dict) -> tuple[int, int]:
    """Row-by-row check of one repetition's output.  Returns
    (docs attempted, docs whose output text is null or row missing)."""
    got = {r["url"]: tuple(r[c] for c in OUT_COLS[1:]) for r in rows}
    res.check(len(got) == len(rows), "duplicate urls in output")
    attempted = failed = 0
    mismatched = []
    want_urls = set()
    for p in pages:
        for u in p.urls:
            want_urls.add(u)
            attempted += 1
            row = got.get(u)
            if row is None or row[4] is None:
                failed += 1
            if row != expected[p.key]:
                mismatched.append(u)
    extra = set(got) - want_urls
    res.check(not mismatched, f"{len(mismatched)} rows differ from the serial "
                              f"core, e.g. {mismatched[:3]}")
    res.check(not extra, f"{len(extra)} unexpected urls in output")
    res.failed += len(mismatched) + len(extra)
    return attempted, failed


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _reps(seconds: float, body) -> list:
    """Run ``body()`` at least once, then again while another repetition
    as long as the last one still ends within ``seconds``."""
    out = []
    t0 = time.monotonic()
    last = 0.0
    while not out or time.monotonic() - t0 + last <= seconds:
        t = time.monotonic()
        out.append(body())
        last = time.monotonic() - t
    return out


# ---------------------------------------------------------------------------
# traced-run Spark metrics
# ---------------------------------------------------------------------------


def _stage_tail_s(st) -> float:
    """Time from the first slot going idle (after the last task launch)
    to the end of the stage."""
    tasks = [t for t in st["task_list"] if t["dur_ms"] is not None]
    if not tasks:
        return 0.0
    ends = sorted(t["launch_ms"] + t["dur_ms"] for t in tasks)
    last_launch = max(t["launch_ms"] for t in tasks)
    first_idle = next(e for e in ends if e >= last_launch)
    return (ends[-1] - first_idle) / 1e3


def _stage_skew(st) -> float:
    runs = [t["run_ms"] for t in st["task_list"] if t["run_ms"] is not None]
    if not runs:
        return 0.0
    return max(runs) / max(1.0, statistics.median(runs))


def spark_metrics(snap: dict, window: tuple, extraction_sites: list[str],
                  udf_s: float) -> dict:
    """Stage/task/job numbers of one repetition (epoch-ms ``window``)."""
    t0, t1 = window
    jobs = [j for j in snap["jobs"]
            if j["submit_ms"] is not None and t0 <= j["submit_ms"] <= t1]
    stages = {}
    for j in jobs:
        for sid in j["stages"]:
            st = snap["stages"].get(sid)
            if st is not None and st["status"] == "COMPLETE":
                stages[sid] = st
    run_ms = sum(s["run_ms"] for s in stages.values())
    ext = []
    for site in extraction_sites:
        cand = [snap["stages"][sid] for j in jobs if j["group"] == site
                for sid in j["stages"] if sid in stages]
        if cand:
            ext.append(max(cand, key=lambda s: s["run_ms"]))
    ext_run_s = sum(s["run_ms"] for s in ext) / 1e3
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.shuffle_mb": sum(s["shuffle_write"] for s in stages.values()) / 1e6,
        "spark.gc_s": sum(s["gc_ms"] for s in stages.values()) / 1e3,
        "spark.slot_util": run_ms / max(1.0, (t1 - t0) * CORES),
        "spark.task_skew": _median([_stage_skew(s) for s in ext]),
        "spark.tail_s": sum(_stage_tail_s(s) for s in ext),
        "extract.boundary_s": ext_run_s - udf_s,
    }


def lineage_udf(rows, batch_rows: int = 256, group_cols=("part_id",)):
    """(udf seconds, batches) from the ``batch_elapsed_ms`` lineage column:
    every row of a batch carries that batch's elapsed ms, and all batches
    but a partition's last hold ``batch_rows`` rows."""
    groups: dict = {}
    for r in rows:
        key = tuple(r[c] for c in group_cols) + (r["batch_elapsed_ms"],)
        groups[key] = groups.get(key, 0) + 1
    udf_s = 0.0
    batches = 0
    for key, n in groups.items():
        k = -(-n // batch_rows)
        batches += k
        udf_s += key[-1] * k / 1e3
    return udf_s, batches


def _actions_in(tracer, t0, t1, **match):
    return [a for a in tracer.actions
            if t0 <= a["start"] and a["end"] <= t1
            and all(a.get(k) == v for k, v in match.items())]


# ---------------------------------------------------------------------------
# shared run scaffolding
# ---------------------------------------------------------------------------


class Run:
    """One benchmark run: its inputs' scale, set-up timing, result and,
    when traced, the recorder and per-layer metrics."""

    def __init__(self, seed, seconds, traced, scale, root, work, t_start):
        self.seed, self.seconds = seed, seconds
        self.traced = traced
        self.scale = SCALES[scale]
        self.root, self.work = root, work
        self.t_start = t_start
        self.excluded = 0.0
        self.h = Harness(work)
        self.res = Result()
        self.rss = WorkerRss()
        self.rec = trace.Recorder()
        self.tracer = trace.ActionTracer(self.rec)
        self.per_layer: dict[str, float] = {}

    @contextlib.contextmanager
    def excluding(self):
        """Time spent inside is not set-up time."""
        t = time.monotonic()
        try:
            yield
        finally:
            self.excluded += time.monotonic() - t

    def reference(self, parser, pages, charset: bool) -> dict:
        """Expected outputs and, traced, the core layers.  Traced, a few
        pages run first so no timed pass pays first-call costs."""
        if not self.traced:
            return serial.run_parallel(parser, pages, charset, CORES)
        serial.run(parser, pages[:8], charset)
        expected, doc_ms, rec, traced_ms = serial.run_traced(parser, pages, charset)
        self.per_layer.update(serial.layer_metrics(
            rec, traced_ms, doc_ms, serial.count_nodes(pages, charset)))
        # the Spark action spans follow the core spans in the same recorder
        self.rec = self.tracer.rec = rec
        return expected

    def spark_tracing(self):
        if not self.traced:
            return contextlib.nullcontext()
        return trace.patched(self.tracer.targets())

    def snapshot(self):
        return trace.snapshot_status(self.h.spark.sparkContext)

    def finish(self, docs_per_s: list[float], failed_frac: float,
               scaling_eff: float) -> Result:
        self.res.detail = {"docs_per_s": docs_per_s, "setups": self.h.setups}
        m = self.res.metrics
        m["setup_s"] = self.h.setups[0]
        m["docs_per_s"] = _median(docs_per_s)
        m["scaling_eff"] = scaling_eff
        m["failed_frac"] = failed_frac
        m["worker_peak_rss_mb"] = self.rss.peak_kb / 1024
        m.update(self.per_layer)
        return self.res


def _parser():
    from article_extractor_spark.core.pipeline import get_parser

    return get_parser()


# ---------------------------------------------------------------------------
# synth_narrow
# ---------------------------------------------------------------------------


def run_synth_narrow(run: Run) -> Result:
    """Synthetic pages, pre-split and cached, through ``extract_articles``
    with no exchange into a ``count`` sink.  Untraced, the same job then
    runs once on one slot for ``scaling_eff``."""
    from pyspark.sql import functions as F

    from article_extractor_spark.operators.extract import extract_articles
    from article_extractor_spark.sources.pages import synthesize_pages

    sc = run.scale
    sf_dir = os.path.join(run.work, "synth_sf")
    with run.excluding():
        pages, tag = inputs.synth_narrow(run.seed, sc["synth_docs"],
                                         sc["synth_replicas"], N_FAILING, sf_dir)
        expected = run.reference(_parser(), pages, charset=False)
    n_in = sum(len(p.urls) for p in pages)

    def materialize(spark):
        syn = synthesize_pages(spark, sf_dir)
        reps = spark.range(sc["synth_replicas"]).select(F.col("id").alias("k"))
        syn = syn.crossJoin(reps).select(
            F.concat("url", F.lit(f"?r={tag}-"), F.col("k").cast("string"))
            .alias("url"), "html")
        hostile = spark.createDataFrame(
            [(p.key, p.body) for p in pages if p.kind == "deep"],
            "url string, html binary")
        inp = syn.unionByName(hostile).repartition(SYNTH_PARTITIONS).cache()
        res_n = inp.count()
        run.res.check(res_n == n_in, f"input rows {res_n} != {n_in}")
        return inp

    spark = run.h.start(run.t_start, run.excluded)
    with run.excluding():
        inp = materialize(spark)

    def docs_per_s(df):
        t = time.monotonic()
        n = extract_articles(df, config_broadcast=run.h.cfg).count()
        dt = time.monotonic() - t
        run.res.check(n == n_in, "repetition lost rows")
        run.res.attempted += n
        return n / dt

    def rep():
        run.rss.start()
        try:
            return docs_per_s(inp)
        finally:
            run.rss.stop()

    # checked repetition, untimed: the same plan, collected.  It warms the
    # plan for the timed repetitions; the traced one is warmed first
    if run.traced:
        docs_per_s(inp)
    with run.spark_tracing():
        e0 = time.time() * 1e3
        rows = extract_articles(inp, config_broadcast=run.h.cfg).select(
            *OUT_COLS[:2], "author", F.unix_micros("date").alias("date_us"),
            "thumbnail_url", "text", "part_id", "batch_elapsed_ms").collect()
        e1 = time.time() * 1e3
    attempted, failed = gate(run.res, rows, pages, expected)
    run.res.attempted += attempted
    if run.traced:
        udf_s, batches = lineage_udf(rows)
        sites = [a["site"] for a in run.tracer.actions if a["op"] == "collect"]
        run.per_layer.update(spark_metrics(run.snapshot(), (e0, e1), sites, udf_s))
        run.per_layer["extract.udf_s"] = udf_s
        run.per_layer["extract.batches"] = float(batches)
        return run.finish([], failed / attempted, SCALING_EFF_UNMEASURED)

    dps4 = _reps(run.seconds, rep)
    dps1 = [run.h.one_slot(lambda: docs_per_s(inp))]
    res = run.finish(dps4, failed / attempted,
                     _median(dps4) / (CORES * _median(dps1)))
    res.detail["one_slot_docs_per_s"] = dps1
    return res


# ---------------------------------------------------------------------------
# real_bucketed
# ---------------------------------------------------------------------------


def run_real_bucketed(run: Run) -> Result:
    """Golden-fixture sources (plus hostile pages) through
    ``plans.checkpoint.run_extraction_job`` in waves, a fresh output
    directory per repetition."""
    from article_extractor_spark.plans.checkpoint import run_extraction_job

    sc = run.scale
    table = os.path.join(run.work, "real_in")
    with run.excluding():
        pages = inputs.real_pages(run.seed, os.path.join(run.root, "tests",
                                                         "fixtures"),
                                  sc["real_replicas"], N_FAILING,
                                  sc["real_bad_bytes"], table)
        expected = run.reference(_parser(), pages, charset=False)
    for p in pages:
        if p.expected_html is not None:
            run.res.check(expected[p.key][4] == p.expected_html,
                          f"ftr golden differs: {p.key}")
    n_in = sum(len(p.urls) for p in pages)

    spark = run.h.start(run.t_start, run.excluded)
    pages_df = spark.read.parquet(table)
    out_root = os.path.join(run.work, "real_out")
    counter = iter(range(1_000_000))
    last = {}

    def rep():
        out = os.path.join(out_root, f"rep-{next(counter)}")
        e0 = time.time() * 1e3
        t = time.monotonic()
        summary = run_extraction_job(
            spark, pages_df, out, num_buckets=REAL_BUCKETS,
            buckets_per_wave=REAL_BUCKETS_PER_WAVE, config_broadcast=run.h.cfg)
        dt = time.monotonic() - t
        e1 = time.time() * 1e3
        if last:
            shutil.rmtree(last["out"], ignore_errors=True)
        last.update(out=out, summary=summary, window=(e0, e1), mono=(t, t + dt))
        run.res.check(summary["docs_this_run"] == n_in
                      and summary["buckets_processed"] == REAL_BUCKETS,
                      f"job summary {summary}")
        run.res.attempted += summary["docs_this_run"]
        return summary["docs_this_run"] / dt

    run.rss.start()
    with run.spark_tracing():
        dps = _reps(run.seconds, rep)
    run.rss.stop()

    arts = spark.read.parquet(os.path.join(last["out"], "articles"))
    rows = _select_out(arts).collect()
    attempted, failed = gate(run.res, rows, pages, expected)
    if run.traced:
        lin = arts.select("bucket", "part_id", "batch_elapsed_ms").collect()
        waves = [{"wave": r["bucket"] // REAL_BUCKETS_PER_WAVE,
                  "part_id": r["part_id"],
                  "batch_elapsed_ms": r["batch_elapsed_ms"]} for r in lin]
        udf_s, batches = lineage_udf(waves, group_cols=("wave", "part_id"))
        m0, m1 = last["mono"]
        writes = _actions_in(run.tracer, m0, m1, op="parquet",
                             file="checkpoint.py")
        art_w = [a for a in writes if a["path"].endswith("articles")]
        mark_w = [a for a in writes if a["path"].endswith("_checkpoint")]
        scans = _actions_in(run.tracer, m0, m1, op="collect",
                            file="checkpoint.py")
        run.per_layer.update(spark_metrics(
            run.snapshot(), last["window"], [a["site"] for a in art_w], udf_s))
        run.per_layer.update({
            "extract.udf_s": udf_s, "extract.batches": float(batches),
            "checkpoint.waves": float(len(art_w)),
            "checkpoint.wave_s": _median([m["end"] - a["start"]
                                          for a, m in zip(art_w, mark_w)]),
            "checkpoint.mark_s": sum(a["end"] - a["start"] for a in mark_w),
            "checkpoint.resume_scan_s": sum(a["end"] - a["start"] for a in scans),
        })
    return run.finish(dps, failed / attempted, SCALING_EFF_UNMEASURED)


# ---------------------------------------------------------------------------
# warc_wet
# ---------------------------------------------------------------------------


def _load_job(root):
    import importlib.util

    path = os.path.join(root, "scripts", "run_warc_job.py")
    spec = importlib.util.spec_from_file_location("perfbench_warc_job", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_warc_wet(run: Run) -> Result:
    """One ``scripts/run_warc_job.py`` ``main()`` call per repetition on
    gzip'd WARC segments; the job stops its session, so the next one is
    built and warmed outside the timed window."""
    import sys

    from article_extractor_spark.core.charset import decode_html
    from article_extractor_spark.sources.warc import read_warc

    sc = run.scale
    seg_dir = os.path.join(run.work, "warc_in")
    with run.excluding():
        pages = inputs.warc_segments(
            run.seed, sc["warc_pages"], sc["warc_segments"], legacy_share=0.3,
            non200_share=0.1, n_failing=N_FAILING,
            docs_dir=os.path.join(run.work, "warc_docs"), seg_dir=seg_dir)
        ok_pages = [p for p in pages if p.status == 200]
        expected = run.reference(_parser(), ok_pages, charset=True)
    if run.traced:
        run.per_layer["charset.non_utf8_frac"] = sum(
            decode_html(p.body, p.content_type)[1] != "utf-8"
            for p in ok_pages) / len(ok_pages)
    n_ok = len(ok_pages)
    n_text = sum(1 for p in ok_pages if expected[p.key][4] is not None)
    job = _load_job(run.root)
    out_root = os.path.join(run.work, "warc_out")
    counter = iter(range(1_000_000))
    last = {}
    snaps = []

    run.h.start(run.t_start, run.excluded)

    def rep():
        if last:
            # the previous job stopped its session: set up the next one
            run.h.start(time.monotonic())
        out = os.path.join(out_root, f"rep-{next(counter)}")
        argv = ["run_warc_job.py", "--input", seg_dir, "--output", out,
                "--partitions", str(WARC_PARTITIONS)]
        buf = io.StringIO()
        saved_argv = sys.argv
        sys.argv = argv
        e0 = time.time() * 1e3
        t = time.monotonic()
        run.rss.start()
        try:
            with contextlib.redirect_stdout(buf):
                job.main()
        finally:
            sys.argv = saved_argv
            run.rss.stop()
        dt = time.monotonic() - t
        e1 = time.time() * 1e3
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        run.res.check(summary["articles"] == n_ok
                      and summary["wet_records"] == n_text,
                      f"job summary {summary}, want {n_ok}/{n_text}")
        run.res.attempted += summary["articles"]
        if last:
            shutil.rmtree(last["out"], ignore_errors=True)
        last.update(out=out, window=(e0, e1), mono=(t, t + dt))
        return summary["articles"] / dt

    def stop_with_snapshot(real_stop):
        def stop(self):
            snaps.append(trace.snapshot_status(self.sparkContext))
            return real_stop(self)
        return stop

    if run.traced:
        from pyspark.sql import SparkSession

        targets = run.tracer.targets() + [
            (SparkSession, "stop", stop_with_snapshot(SparkSession.stop))]
        with trace.patched(targets):
            dps = _reps(run.seconds, rep)
    else:
        dps = _reps(run.seconds, rep)

    spark = run.h.start(time.monotonic(), warm=False)  # reads the output back
    arts = spark.read.parquet(os.path.join(last["out"], "articles"))
    rows = _select_out(arts).collect()
    attempted, failed = gate(run.res, rows, ok_pages, expected)
    wet = read_warc(spark, os.path.join(last["out"], "wet"), ("conversion",))
    wet_rows = {r["url"]: bytes(r["html"]).decode("utf-8")
                for r in wet.select("url", "html").collect()}
    want = {p.key: expected[p.key][4] for p in ok_pages
            if expected[p.key][4] is not None}
    run.res.check(wet_rows == want,
                  f"WET read-back differs ({len(wet_rows)} vs {len(want)} records)")

    if run.traced:
        udf_s, batches = lineage_udf(
            arts.select("part_id", "batch_elapsed_ms").collect())
        m0, m1 = last["mono"]
        acts = _actions_in(run.tracer, m0, m1)

        def dur(a):
            return a["end"] - a["start"]

        lcp = [a for a in acts if a["op"] == "localCheckpoint"]
        bloom = [a for a in acts if a["file"] == "bloomwrite.py"]
        lineage = [a for a in acts if a["op"] == "parquet"
                   and str(a["path"]).endswith("lineage")]
        wetw = [a for a in acts if a["file"] == "wet_sink.py"]
        after = [a for a in acts if wetw and a["start"] >= wetw[-1]["end"]
                 and a["op"] == "count"]
        snap = snaps[-1]
        read_stages = [snap["stages"][sid] for j in snap["jobs"]
                       if lcp and j["group"] == lcp[0]["site"]
                       for sid in j["stages"] if sid in snap["stages"]]
        read_stage = max(read_stages, key=lambda s: s["run_ms"], default=None)
        run.per_layer.update(spark_metrics(snap, last["window"],
                                           [lcp[1]["site"]], udf_s))
        run.per_layer.update({
            "extract.udf_s": udf_s, "extract.batches": float(batches),
            "warc.read_s": dur(lcp[0]),
            "warc.read_tasks": float(read_stage["tasks"] if read_stage else 0),
            "extract_bytes.extract_s": dur(lcp[1]),
            "bloomwrite.write_s": sum(map(dur, bloom)),
            "lineage.write_s": sum(map(dur, lineage)),
            "wet_sink.write_s": sum(map(dur, wetw)),
            "warc_job.summary_s": sum(map(dur, after)),
        })
    return run.finish(dps, failed / attempted, SCALING_EFF_UNMEASURED)


WORKLOADS = {"synth_narrow": run_synth_narrow,
             "real_bucketed": run_real_bucketed,
             "warc_wet": run_warc_wet}
