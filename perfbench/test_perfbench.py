"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from dataclasses import replace
from pathlib import Path

import pandas as pd
import pytest

from perfbench import corpus, sparkstats
from perfbench.gate import mismatched_docs
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.trace import Span, Tracer, self_time_by_name, self_times

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def golden() -> pd.DataFrame:
    _, rows = corpus.interleaved_rows(corpus.InterleavedSpec(n_docs=20, seed=3))
    return corpus._sorted_golden(pd.DataFrame(rows))


def test_gate_passes_exact_result_in_any_row_order(golden):
    assert mismatched_docs(golden.sample(frac=1.0, random_state=1), golden) == set()


@pytest.mark.parametrize("plant", ["text", "kind", "media_ref", "order", "drop", "extra", "dup"])
def test_gate_trips_on_one_planted_span(golden, plant):
    res = golden.copy()
    i = 7
    doc = res.loc[i, "doc_id"]
    if plant == "text":
        res.loc[i, "text"] += "x"
    elif plant == "kind":
        res.loc[i, "kind"] = "image" if res.loc[i, "kind"] == "text" else "text"
    elif plant == "media_ref":
        res.loc[i, "media_ref"] += "#"
    elif plant == "order":
        res.loc[i, "order"] = 99
    elif plant == "drop":
        res = res.drop(index=i)
    elif plant == "extra":
        extra = res.loc[[i]].assign(order=50)
        res = pd.concat([res, extra], ignore_index=True)
    elif plant == "dup":
        res = pd.concat([res, res.loc[[i]]], ignore_index=True)
    assert mismatched_docs(res, golden) == {doc}


def test_interleaved_golden_drops_empty_and_junk_spans_and_numbers_densely():
    spec = corpus.InterleavedSpec(n_docs=50, seed=11, p_empty_text=0.5)
    docs, rows = corpus.interleaved_rows(spec)
    g = pd.DataFrame(rows)
    for doc_id, grp in g.groupby("doc_id"):
        assert list(grp["order"]) == list(range(len(grp)))
    assert (g["kind"] == "image").sum() == spec.n_docs * spec.image_spans
    assert not g["text"].str.contains("JUNK").any()
    n_in = sum(len(d["spans"]) for d in docs)
    assert len(g) < n_in
    # The generated array order is not the offset order.
    assert any(
        [s["offset"] for s in d["spans"]] != sorted(s["offset"] for s in d["spans"]) for d in docs
    )


def test_interleaved_corpus_is_a_function_of_the_seed():
    a = corpus.interleaved_rows(corpus.InterleavedSpec(n_docs=5, seed=1))
    b = corpus.interleaved_rows(corpus.InterleavedSpec(n_docs=5, seed=1))
    c = corpus.interleaved_rows(corpus.InterleavedSpec(n_docs=5, seed=2))
    assert a == b
    assert a != c


def test_cache_key_covers_seed_and_every_spec_field():
    from mangaextractor_spark.fixtures.generator import CorpusSpec

    base = CorpusSpec(n_docs=8, seed=1)
    keys = {
        corpus.cache_key(base),
        corpus.cache_key(replace(base, seed=2)),
        corpus.cache_key(replace(base, p_jpeg=0.1)),
        corpus.cache_key(replace(base, page_w=421)),
        corpus.cache_key(corpus.InterleavedSpec(n_docs=8, seed=1)),
        corpus.cache_key(corpus.InterleavedSpec(n_docs=8, seed=2)),
    }
    assert len(keys) == 6
    assert corpus.cache_key(base) == corpus.cache_key(CorpusSpec(n_docs=8, seed=1))


def test_cache_key_tracks_generator_version(monkeypatch):
    spec = corpus.InterleavedSpec(n_docs=8, seed=1)
    before = corpus.cache_key(spec)
    monkeypatch.setattr(corpus, "generator_version", lambda s: "changed")
    assert corpus.cache_key(spec) != before


def test_scanned_table_is_written_as_equal_part_files(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"i": list(range(100))})
    corpus._write_parts(table, tmp_path / "t.parquet", 4)
    parts = sorted((tmp_path / "t.parquet").iterdir())
    assert len(parts) == corpus.SCAN_FILES == 12
    assert {pq.read_metadata(p).num_rows for p in parts} <= {8, 9}
    assert pq.read_table(tmp_path / "t.parquet")["i"].to_pylist() == list(range(100))


def test_self_time_on_hand_built_tree():
    spans = [
        Span(0, "page", 0.0, 10.0, None, "p1"),
        Span(1, "decode", 1.0, 3.0, 0, "p1"),
        Span(2, "ladder", 2.0, 5.0, 0, "p1"),  # overlaps decode
        Span(3, "ocr", 8.0, 12.0, 0, "p1"),  # runs past its parent
        Span(4, "inner", 3.5, 4.5, 2, "p1"),
        Span(5, "page", 20.0, 21.0, None, "p2"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))  # children cover [1,5] and [8,10]
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(1.0)
    by_name = self_time_by_name(spans)
    assert by_name["page"] == (pytest.approx(5.0), 2)


def test_tracer_nests_and_inherits_page():
    tr = Tracer()
    with tr.span("page", page="m#p1"):
        with tr.span("decode"):
            pass
    page, decode = tr.spans
    assert decode.parent == page.id and decode.page == "m#p1"
    assert page.start <= decode.start <= decode.end <= page.end


def test_parse_spark_metric_strings():
    m = sparkstats.parse_metric(
        "total (min, med, max (stageId: taskId))\n5.8 s (1.4 s, 1.5 s, 2.0 m (stage 0.0: task 0))"
    )
    assert (m.total, m.min, m.med, m.max) == (5.8, 1.4, 1.5, 120.0)
    m = sparkstats.parse_metric(
        "total (min, med, max (stageId: taskId))\n1050.1 KiB (262.5 KiB, 900 ms, 1.5 MiB (stage 1.0: task 4))"
    )
    assert m.total == pytest.approx(1050.1 * 1024) and m.max == pytest.approx(1.5 * 2**20)
    assert sparkstats.parse_metric("0 ms").total == 0.0
    assert sparkstats.parse_metric("100,000").total == 100000.0
    assert sparkstats.parse_metric("avg hash probes per key: n/a") is None


def test_benchmark_json_matches_the_code():
    from perfbench.workloads import WORKLOADS

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m[:3]) for m in PER_LAYER
    ]
