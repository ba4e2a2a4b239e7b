"""Metric definitions. BENCHMARK.json lists the same names, units and
directions (checked by test_perfbench.py); ``moves`` records which
end-to-end metric, on which workload, each per-layer metric should move."""

from __future__ import annotations

# name, unit, better, bound
END_TO_END = [
    ("pages_per_s", "1/s", "higher", 0.24),
    ("docs_per_s", "1/s", "higher", 0.24),
    ("setup_s", "s", "lower", 0.25),
]

# name, unit, better, moves
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s, all workloads"),
    ("pipeline.py_init_s", "s", "lower", "setup_s, clean_png_fast"),
    ("sources.decode_png_ms", "ms", "lower", "pages_per_s, clean_png_fast"),
    ("sources.decode_jpeg_ms", "ms", "lower", "pages_per_s of the noisy robust pass"),
    ("kernels.bubbles_ms", "ms", "lower", "pages_per_s, clean_png_fast"),
    ("kernels.ladder_ms", "ms", "lower", "pages_per_s of the noisy robust pass"),
    ("kernels.ocr_ms_per_region", "ms", "lower", "pages_per_s, clean_png_fast (small)"),
    ("kernels.regions_per_page", "count", "lower", "pages_per_s, clean_png_fast"),
    ("kernels.ocr_hit_share", "ratio", "higher", "pages_per_s, clean_png_fast"),
    ("kernels.page_ms", "ms", "lower", "pages_per_s, clean_png_fast"),
    ("kernels.noisy_page_ms", "ms", "lower", "pages_per_s of the noisy robust pass"),
    ("pipeline.noisy_py_ms_per_page", "ms", "lower", "pages_per_s of the noisy robust pass"),
    ("pipeline.py_run_task_s", "s", "lower", "scaling_eff, clean_png_fast"),
    ("pipeline.task_skew", "ratio", "lower", "scaling_eff, clean_png_fast"),
    ("pipeline.arrow_mb_per_page", "MB", "lower", "pages_per_s, clean_png_fast"),
    ("pipeline.py_overhead_ms_per_page", "ms", "lower", "pages_per_s and scaling_eff, clean_png_fast"),
    ("pipeline.shuffle_mb", "MB", "lower", "pages_per_s, clean_png_fast"),
    ("pipeline.number_spans_s", "s", "lower", "docs_per_s, clean_png_fast"),
    ("checkpoint.stage_s", "s", "lower", "pages_per_s of the chunked run, clean_png_fast"),
    ("checkpoint.chunk_s_p50", "s", "lower", "pages_per_s of the chunked run, clean_png_fast"),
    ("checkpoint.chunk_s_max", "s", "lower", "pages_per_s of the chunked run, clean_png_fast"),
    ("checkpoint.resume_s", "s", "lower", "time to result after a restart, clean_png_fast"),
    ("checkpoint.final_s", "s", "lower", "checkpoint.resume_s, clean_png_fast"),
    ("checkpoint.write_amp", "ratio", "lower", "pages_per_s of the chunked run, clean_png_fast"),
    ("checkpoint.redone_chunks", "count", "lower", "checkpoint.resume_s; should read 0"),
    ("queries.plan_build_s", "s", "lower", "setup_s, interleaved_text"),
    ("queries.spans_in", "count", "higher", "docs_per_s, interleaved_text"),
    ("queries.spans_out", "count", "higher", "docs_per_s, interleaved_text"),
    ("queries.dropped_share", "ratio", "higher", "docs_per_s, interleaved_text"),
    ("scaling_eff", "ratio", "higher", "north star: >= 0.8 from local[1] to local[nproc]"),
    ("peak_rss_mb", "MB", "lower", "memory of the driver JVM and Python workers, timed passes"),
    ("failed_share", "ratio", "lower", "correctness; must read 0"),
    ("trace.overhead_share", "ratio", "lower", "none: traced minus untraced pass time"),
]
