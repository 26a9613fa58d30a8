"""For each per-layer metric: the layer it measures, the end-to-end metric
it should move and the workloads that put most / little work on it.

Names, units, directions and bounds are declared once, in
``BENCHMARK.json``; its keys are fixed, so this mapping lives only here.
The self-test checks that this table names exactly the per-layer metrics
``BENCHMARK.json`` declares.

``bench.py`` stays frozen and is never compared against.  Its r01-r06
numbers were taken best-of-N on a 32-core machine over a different input
and plan, so they are not comparable with anything this benchmark prints
(median of repetitions, ``local[4]`` on a 4-core machine).

``scaling_eff`` is measured on ``synth_narrow`` only: the median docs/s of
the timed repetitions over four times the docs/s of the same job run right
after them on one slot (idle tasks hold the other three), so both sides
run the same 16 cached partitions as 16 tasks in the same session.
``real_bucketed`` and ``warc_wet`` print the fixed stand-in 1.0 for it,
which no change can move.
"""

from __future__ import annotations

# name, layer, should move, most work on / little on
PER_LAYER = [
    ("core.ms_per_doc", "whole core, serial parse_offline, untraced",
     "docs_per_s", "all"),
    ("core.doc_ms_p50", "whole core, serial parse_offline, untraced",
     "docs_per_s", "all"),
    ("core.doc_ms_tail", "p99 of the serial per-doc ms",
     "docs_per_s", "real_bucketed / synth_narrow"),
    ("core.traced_ms_per_doc",
     "whole core, serial, traced (= sum of the core self times)", "docs_per_s", "all"),
    ("core.other_ms", "parse_offline self time outside the wrapped layers",
     "docs_per_s", "all"),
    ("charset.decode_ms", "core.charset.decode_html",
     "docs_per_s", "warc_wet / others (0)"),
    ("charset.non_utf8_frac", "share of pages sniffed as a non-UTF-8 charset",
     "docs_per_s", "warc_wet"),
    ("dom.parse_ms", "core.dom.parse_html",
     "docs_per_s, worker_peak_rss_mb", "real_bucketed / synth_narrow"),
    ("dom.nodes", "DOM nodes per doc (core.dom.parse_html)",
     "docs_per_s, worker_peak_rss_mb", "real_bucketed / synth_narrow"),
    ("fulltext.prep_ms", "core.fulltext.prep_content",
     "docs_per_s", "real_bucketed / synth_narrow"),
    ("metadata.extract_ms", "core.metadata.extract",
     "docs_per_s", "real_bucketed / synth_narrow"),
    ("fulltext.thumbnail_ms", "core.fulltext.check_for_thumbnail",
     "docs_per_s", "real_bucketed / synth_narrow"),
    ("readability.body_ms", "core.readability.extract_body",
     "docs_per_s, scaling_eff", "synth_narrow / ftr pages in real_bucketed"),
    ("readability.attempts", "retry passes per doc in core.readability.extract_body",
     "docs_per_s, scaling_eff", "synth_narrow / ftr pages in real_bucketed"),
    ("fulltext.ftr_body_ms", "core.fulltext.extract_body (site-config xpath_body)",
     "docs_per_s", "real_bucketed / synth_narrow"),
    ("fulltext.ftr_hit_frac",
     "share of docs whose body came from site-config xpath_body",
     "docs_per_s", "real_bucketed / synth_narrow (0 hits)"),
    ("fulltext.post_ms", "prevent_self_closing_tags + post_process_document",
     "docs_per_s", "synth_narrow / -"),
    ("dom.serialize_ms", "core.dom.serialize_node",
     "docs_per_s", "synth_narrow / -"),
    ("xpath.evals", "XPath evaluations per doc (core.xpath)",
     "docs_per_s", "all"),
    ("extract.udf_s", "operators.extract batch loop, summed from batch_elapsed_ms",
     "docs_per_s", "all"),
    ("extract.batches", "Arrow batches through the batch loop",
     "docs_per_s", "all"),
    ("extract.boundary_s",
     "extraction-stage task time - extract.udf_s (scan, JVM<->Arrow, pipe)",
     "docs_per_s, scaling_eff", "synth_narrow / real_bucketed"),
    ("spark.slot_util", "sum of task time / (wall x 4 cores)",
     "scaling_eff", "synth_narrow"),
    ("spark.gc_s", "JVM GC time in the repetition's tasks",
     "scaling_eff", "synth_narrow"),
    ("spark.task_skew", "max / median task time in the extraction stage",
     "docs_per_s", "real_bucketed / synth_narrow"),
    ("spark.tail_s", "first idle slot to end of the extraction stage",
     "docs_per_s", "real_bucketed / synth_narrow"),
    ("spark.jobs", "Spark jobs per repetition",
     "docs_per_s", "real_bucketed, warc_wet / synth_narrow"),
    ("spark.stages", "completed stages per repetition",
     "docs_per_s", "real_bucketed, warc_wet / synth_narrow"),
    ("spark.shuffle_mb", "shuffle bytes written per repetition",
     "docs_per_s", "real_bucketed, warc_wet / synth_narrow (none)"),
    ("checkpoint.waves", "plans.checkpoint waves per repetition",
     "docs_per_s", "real_bucketed"),
    ("checkpoint.wave_s", "median wave: articles write start to checkpoint mark end",
     "docs_per_s", "real_bucketed"),
    ("checkpoint.mark_s", "plans.checkpoint.mark_completed writes",
     "docs_per_s", "real_bucketed"),
    ("checkpoint.resume_scan_s", "plans.checkpoint.completed_buckets collect",
     "docs_per_s", "real_bucketed"),
    ("warc.read_s", "sources.warc_http.read_warc_http (checkpointed)",
     "docs_per_s", "warc_wet"),
    ("warc.read_tasks", "tasks of the WARC read stage",
     "docs_per_s", "warc_wet"),
    ("extract_bytes.extract_s", "operators.extract_bytes stage (checkpointed)",
     "docs_per_s", "warc_wet"),
    ("bloomwrite.write_s", "plans.bloomwrite.write_with_bloom",
     "docs_per_s", "warc_wet"),
    ("lineage.write_s", "lineage_metrics parquet write",
     "docs_per_s", "warc_wet"),
    ("wet_sink.write_s", "sources.wet_sink.write_wet_segments",
     "docs_per_s", "warc_wet"),
    ("warc_job.summary_s", "the job's summary count actions after the WET write",
     "docs_per_s", "warc_wet"),
    ("trace.overhead",
     "median over docs of 1 - untraced / traced ms in the serial pass",
     "-", "all"),
]
