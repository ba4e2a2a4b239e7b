"""The workloads: what one pass runs, and the per-layer probes of the
traced run.

A pass calls the program's public entry point and collects the complete
span result to the client; the caller times it and checks it against
the golden spans. Probes call the layers' public functions from outside
and record spans around them; no program code is changed or wrapped.
"""

from __future__ import annotations

import shutil
import statistics
import time
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mangaextractor_spark.fixtures.generator import CorpusSpec

from . import sparkstats
from .corpus import Corpus, InterleavedSpec
from .gate import mismatched_docs
from .trace import Tracer, self_time_by_name

PAGE_W, PAGE_H = 420, 600
# Chunks of the checkpoint probe; the injected failure hits the middle one.
N_CHUNKS = 4


class Workload:
    name = ""

    def corpus_specs(self, seed: int, trace: bool) -> dict:
        """Corpus name -> spec; "main" feeds the timed passes, the others
        only the traced run's probes."""
        raise NotImplementedError

    def register(self, spark, corpus: Corpus) -> dict:
        raise NotImplementedError

    def run_pass(self, spark, inputs: dict, tr: Tracer) -> pd.DataFrame:
        """Run one pass and return the complete span result."""
        raise NotImplementedError

    def probes(self, spark, inputs: dict, corpora: dict, tr: Tracer, work_dir: Path) -> dict:
        """Per-layer metrics measured outside the timed passes; may
        include "_failed_docs" and "_attempted_docs" from golden checks
        of the probes' own results, and "_kernel_s"."""
        return {}


class CleanPngFast(Workload):
    """Clean PNG pages through extract_spans on the whiteness fast path.
    Kernel work per page is a few ms, so Spark plumbing (scan, broadcast
    join, Arrow transfer to Python workers, doc-keyed window) dominates."""

    name = "clean_png_fast"

    def corpus_specs(self, seed, trace):
        # max_pages=8 keeps the zipf page-count skew but holds the spread
        # of total pages between seeds to ~4%, which docs_per_s inherits.
        specs = {
            "main": CorpusSpec(n_docs=384, seed=seed, page_w=PAGE_W, page_h=PAGE_H, max_pages=8)
        }
        if trace:
            # Noisy scans for the robust-ladder and JPEG-decode layers:
            # off-white bubbles, speckle, border art, and a JPEG share
            # (pure-Python decode, ~0.4 s a page) sized so decode and
            # ladder take similar shares of kernel self-time.
            specs["noisy"] = CorpusSpec(
                n_docs=24, seed=seed, page_w=PAGE_W, page_h=PAGE_H,
                bubble_fill=235, p_speckle=0.05, border_art=True,
                p_jpeg=0.06, p_color_jpeg=0.5,
            )
        return specs

    def register(self, spark, corpus):
        return {
            "docs": spark.read.parquet(corpus.docs_path),
            "media": spark.read.parquet(corpus.media_path),
        }

    def run_pass(self, spark, inputs, tr, robust: bool = False):
        from mangaextractor_spark.pipeline.extract import extract_spans

        with tr.span("pipeline.extract_spans"):
            df = extract_spans(inputs["docs"], inputs["media"], robust=robust)
        with tr.span("pipeline.collect"):
            return df.toPandas()

    def probes(self, spark, inputs, corpora, tr, work_dir):
        out = kernel_probe(corpora["main"], tr, robust=False)
        out["pipeline.number_spans_s"] = number_spans_probe(spark, inputs, tr)
        out.update(checkpoint_probe(spark, inputs, corpora["main"], tr, work_dir))
        noisy = corpora["noisy"]
        nk = kernel_probe(noisy, tr, robust=True)
        out["sources.decode_jpeg_ms"] = nk["sources.decode_jpeg_ms"]
        out["kernels.ladder_ms"] = nk["kernels.ladder_ms"]
        out["kernels.noisy_page_ms"] = nk["kernels.page_ms"]
        # One robust pass over the noisy corpus: its Python task time per
        # page against the in-process kernel time per page above.
        n_inputs = self.register(spark, noisy)
        before = sparkstats.last_execution_id(spark)
        with tr.span("pass.noisy_robust"):
            pdf = self.run_pass(spark, n_inputs, tr, robust=True)
        ex = sparkstats.executions_since(spark, before)
        py_s = sparkstats.total(ex, "time to run Python workers")
        out["pipeline.noisy_py_ms_per_page"] = 1000.0 * py_s / noisy.n_pages
        out["_failed_docs"] = out.get("_failed_docs", 0) + len(mismatched_docs(pdf, noisy.golden))
        out["_attempted_docs"] = out.get("_attempted_docs", 0) + noisy.n_docs
        return out


class InterleavedText(Workload):
    """The north_rule interleaved HTML/text/image-ref corpus through
    main_content_spans_df: no pixels, so the functions/html regex chain
    and the scan dominate."""

    name = "interleaved_text"

    def corpus_specs(self, seed, trace):
        return {"main": InterleavedSpec(n_docs=48000, seed=seed)}

    def register(self, spark, corpus):
        return {"docs": spark.read.parquet(corpus.docs_path)}

    def run_pass(self, spark, inputs, tr):
        from mangaextractor_spark.queries.main_content import main_content_spans_df

        with tr.span("queries.main_content_spans_df"):
            df = main_content_spans_df(inputs["docs"])
        with tr.span("queries.collect"):
            return df.toPandas()

    def probes(self, spark, inputs, corpora, tr, work_dir):
        from mangaextractor_spark.queries.main_content import main_content_spans_df

        builds = []
        for _ in range(5):
            t0 = time.perf_counter()
            with tr.span("queries.plan_build"):
                main_content_spans_df(inputs["docs"])._jdf.queryExecution().analyzed()
            builds.append(time.perf_counter() - t0)
        corpus = corpora["main"]
        spans_out = len(corpus.golden)
        return {
            "queries.plan_build_s": statistics.median(builds),
            "queries.spans_in": corpus.n_spans_in,
            "queries.spans_out": spans_out,
            "queries.dropped_share": 1.0 - spans_out / corpus.n_spans_in,
        }


WORKLOADS = {w.name: w for w in (CleanPngFast(), InterleavedText())}


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def kernel_probe(corpus: Corpus, tr: Tracer, robust: bool) -> dict:
    """Run every page of the corpus through the kernel layers in this
    process, one span per layer call, all spans of a page tagged with
    its media_ref. Returns per-page kernel self-times."""
    from mangaextractor_spark.kernels.image_ops import extract_page_regions
    from mangaextractor_spark.kernels.ocr import get_engine
    from mangaextractor_spark.sources.decode import JPEG_SIG, decode_gray_image

    engine = get_engine("glyph")
    media = pq.read_table(corpus.media_path, columns=["media_ref", "image_bytes"])
    first = len(tr.spans)
    n_regions = n_hits = 0
    seg = "kernels.ladder" if robust else "kernels.bubbles"
    refs = media.column("media_ref").to_pylist()
    for ref, b in zip(refs, media.column("image_bytes").to_pylist()):
        fmt = "jpeg" if b[:2] == JPEG_SIG else "png"
        with tr.span("kernels.page", page=ref):
            with tr.span(f"sources.decode_{fmt}"):
                img = decode_gray_image(b)
            with tr.span(seg):
                regions = extract_page_regions(img, robust=robust)
            with tr.span("kernels.ocr"):
                texts = engine.decode_batch([r.ink for r in regions])
        n_regions += len(regions)
        n_hits += sum(1 for t in texts if t)
    spans = tr.spans[first:]
    st = self_time_by_name(spans)

    def per_call_ms(name: str) -> float:
        s, n = st.get(name, (0.0, 0))
        return 1000.0 * s / n if n else 0.0

    kernel_s = sum(s.end - s.start for s in spans if s.name == "kernels.page")
    return {
        "sources.decode_png_ms": per_call_ms("sources.decode_png"),
        "sources.decode_jpeg_ms": per_call_ms("sources.decode_jpeg"),
        "kernels.bubbles_ms": per_call_ms("kernels.bubbles"),
        "kernels.ladder_ms": per_call_ms("kernels.ladder"),
        "kernels.ocr_ms_per_region": 1000.0 * st["kernels.ocr"][0] / max(n_regions, 1),
        "kernels.regions_per_page": n_regions / len(refs),
        "kernels.ocr_hit_share": n_hits / max(n_regions, 1),
        "kernels.page_ms": 1000.0 * kernel_s / len(refs),
        "_kernel_s": kernel_s,
    }


def number_spans_probe(spark, inputs: dict, tr: Tracer) -> float:
    """Median time of pipeline.extract.number_spans over a cached OCR
    frame, i.e. the union + doc-keyed window alone."""
    from mangaextractor_spark.pipeline.extract import number_spans, ocr_pages

    docs, media = inputs["docs"], inputs["media"]
    # The same span/page frames extract_spans builds internally.
    spans = docs.select("doc_id", F.explode("spans").alias("sp")).select(
        "doc_id", "sp.kind", "sp.text", "sp.media_ref", "sp.offset"
    )
    meta = spans.filter(F.col("kind") == "image").select("doc_id", "offset", "media_ref")
    pages = media.select("media_ref", "image_bytes").join(F.broadcast(meta), "media_ref")
    ocr = ocr_pages(pages, num_partitions=0).cache()
    try:
        ocr.count()
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            with tr.span("pipeline.number_spans"):
                number_spans(spans, ocr).toPandas()
            times.append(time.perf_counter() - t0)
    finally:
        ocr.unpersist()
    return statistics.median(times)


def checkpoint_probe(spark, inputs: dict, corpus: Corpus, tr: Tracer, work_dir: Path) -> dict:
    """pipeline.checkpoint.run_extraction on the same corpus: staging
    alone, a run killed before the middle chunk, its resume, and a call
    on the finished output (final renumber + write only)."""
    from mangaextractor_spark.pipeline.checkpoint import ChunkFailure, run_extraction

    docs, media = inputs["docs"], inputs["media"]

    def timed(name: str, out_dir: Path, fail_on_chunk: int | None):
        """(seconds, collected result or None when the failure fired)."""
        t0 = time.perf_counter()
        pdf = None
        try:
            with tr.span(name):
                df = run_extraction(spark, docs, media, str(out_dir), n_chunks=N_CHUNKS,
                                    fail_on_chunk=fail_on_chunk)
                pdf = df.toPandas()
        except ChunkFailure:
            if fail_on_chunk is None:
                raise
        if fail_on_chunk is not None and pdf is not None:
            raise RuntimeError("injected chunk failure did not fire")
        return time.perf_counter() - t0, pdf

    out = {"checkpoint.stage_s": timed("checkpoint.stage", work_dir / "stage", 0)[0]}
    shutil.rmtree(work_dir / "stage", ignore_errors=True)
    run_dir = work_dir / "run"
    timed("checkpoint.until_failure", run_dir, N_CHUNKS // 2)
    out["checkpoint.resume_s"], resumed = timed("checkpoint.resume", run_dir, None)
    lineage = pq.read_table(run_dir / "_lineage").to_pandas()
    done = lineage[lineage["status"] == "done"]
    wall_s = done["wall_ms"] / 1000.0
    out["checkpoint.chunk_s_p50"] = float(wall_s.median())
    out["checkpoint.chunk_s_max"] = float(wall_s.max())
    out["checkpoint.redone_chunks"] = int((done["chunk"].value_counts() > 1).sum())
    out["checkpoint.write_amp"] = _dir_bytes(run_dir) / corpus.media_bytes
    out["checkpoint.final_s"], final = timed("checkpoint.final", run_dir, None)
    bad = mismatched_docs(resumed, corpus.golden) | mismatched_docs(final, corpus.golden)
    out["_failed_docs"] = len(bad)
    out["_attempted_docs"] = 2 * corpus.n_docs
    return out


def spark_layer_metrics(executions, n_pages: int, kernel_s: float | None) -> dict:
    """Per-layer metrics of one traced pass from Spark's SQL metrics."""
    run = sparkstats.heaviest(executions, "time to run Python workers")
    py_s = sparkstats.total(executions, "time to run Python workers")
    out = {
        "pipeline.py_run_task_s": py_s,
        "pipeline.task_skew": run.max / run.med if run and run.med > 0 else 0.0,
        "pipeline.arrow_mb_per_page": (
            sparkstats.total(executions, "data sent to Python workers") / 2**20 / max(n_pages, 1)
        ),
        "pipeline.shuffle_mb": sparkstats.total(executions, "shuffle bytes written") / 2**20,
        "pipeline.py_overhead_ms_per_page": 0.0,
    }
    if kernel_s is not None and py_s > 0:
        out["pipeline.py_overhead_ms_per_page"] = 1000.0 * (py_s - kernel_s) / n_pages
    return out
