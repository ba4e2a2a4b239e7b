"""Seeded workload corpora, cached on disk inside the checkout.

Every corpus is a pure function of its spec (which carries the seed), so
the cache key is ``sha256(spec type + every spec field + generator
version + on-disk format)``. The generator version hashes the source of
the code that renders the pages and their golden spans, so a change to
the fixtures invalidates every cached corpus instead of serving stale
goldens. Generation happens before the Spark session starts and is never
part of any timed interval.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the files written by _write_* change shape.
CORPUS_FORMAT = 2
# Most recent corpora kept on disk; older ones are evicted. Room for
# ten seeds of every workload, so a set of runs generates each once.
CACHE_KEEP = 24
# Parquet row groups of image rows: ~3.5 MB at 420x600.
MEDIA_ROW_GROUP = 32
# The scanned tables are written as equal part files of ~8 MB each.
# Spark neither splits a file below its 16 MB split size nor packs two
# such files (plus its 4 MB open cost) into one task, so every seed
# scans as exactly SCAN_FILES tasks: three full waves on four cores. One
# file would split by bytes into 5-8 tasks depending on the seed, and
# the last wave's idle cores would move pass times by up to a third
# between seeds; several tasks a core also let the other cores take up
# the work of one the hypervisor holds back. The text docs are written
# uncompressed: compressed, the 48k docs are ~40 MB, which Spark scans
# as one task a core whatever the file layout.
SCAN_FILES = 12

_PKG_SOURCES = (
    "fixtures/generator.py",
    "fixtures/png.py",
    "fixtures/jpeg.py",
    "fixtures/font.py",
    "kernels/ordering.py",
)

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPAN_TYPE)])
GOLDEN_COLS = ["doc_id", "kind", "text", "media_ref", "order"]


@dataclass(frozen=True)
class InterleavedSpec:
    """The north_rule interleaved HTML / text / image-ref corpus."""

    n_docs: int
    seed: int
    html_spans: int = 3
    text_spans: int = 2
    image_spans: int = 2
    min_words: int = 20
    max_words: int = 80
    p_empty_text: float = 0.1


@dataclass
class Corpus:
    key: str
    path: Path
    n_docs: int
    n_pages: int  # image pages; image-ref spans for the interleaved corpus
    n_spans_in: int
    media_bytes: int
    golden: pd.DataFrame  # GOLDEN_COLS, sorted by (doc_id, order)

    @property
    def docs_path(self) -> str:
        """A parquet file (image corpora) or a directory of SCAN_FILES
        part files (the interleaved corpus)."""
        return str(self.path / "documents.parquet")

    @property
    def media_path(self) -> str:
        """A directory of SCAN_FILES part files."""
        return str(self.path / "media.parquet")


def generator_version(spec) -> str:
    """Hash of the source that turns ``spec`` into pages and goldens."""
    h = hashlib.sha256()
    if isinstance(spec, InterleavedSpec):
        h.update(Path(__file__).read_bytes())
    else:
        import mangaextractor_spark

        pkg = Path(mangaextractor_spark.__file__).parent
        for rel in _PKG_SOURCES:
            h.update(rel.encode())
            h.update((pkg / rel).read_bytes())
    return h.hexdigest()[:16]


def cache_key(spec) -> str:
    payload = {
        "type": type(spec).__name__,
        "spec": asdict(spec),
        "generator": generator_version(spec),
        "format": CORPUS_FORMAT,
    }
    return hashlib.sha256(json.dumps(payload, sort_keys=True).encode()).hexdigest()[:24]


def load(spec, cache_dir: Path, processes: int = 1) -> Corpus:
    """Return the corpus for ``spec``, generating it on a cache miss."""
    key = cache_key(spec)
    path = cache_dir / key
    if not (path / "meta.json").exists():
        tmp = cache_dir / f".{key}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        if isinstance(spec, InterleavedSpec):
            meta = _write_interleaved(spec, tmp)
        else:
            meta = _write_image(spec, tmp, processes)
        # meta.json is the completion marker: written last, then the
        # directory is renamed into place in one step.
        (tmp / "meta.json").write_text(json.dumps(meta))
        shutil.rmtree(path, ignore_errors=True)
        tmp.rename(path)
        _evict(cache_dir)
    os.utime(path)
    meta = json.loads((path / "meta.json").read_text())
    golden = pd.read_parquet(path / "golden.parquet")
    return Corpus(key=key, path=path, golden=golden, **meta)


def _evict(cache_dir: Path) -> None:
    entries = sorted(
        (p for p in cache_dir.iterdir() if (p / "meta.json").exists()),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for p in entries[CACHE_KEEP:]:
        shutil.rmtree(p, ignore_errors=True)


def _sorted_golden(golden: pd.DataFrame) -> pd.DataFrame:
    golden = golden[GOLDEN_COLS].astype({"order": "int32"})
    return golden.sort_values(["doc_id", "order"], ignore_index=True)


def _write_docs(rows: list[dict], path: Path) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCS_SCHEMA), path, row_group_size=2048)


def _write_parts(
    table: pa.Table, path: Path, row_group_size: int, compression: str = "snappy"
) -> None:
    """Write ``table`` in order as SCAN_FILES part files of equal row
    counts under the directory ``path``."""
    path.mkdir()
    bounds = np.linspace(0, table.num_rows, SCAN_FILES + 1).round().astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo), path / f"part-{i:02d}.parquet",
                       row_group_size=row_group_size, compression=compression)


def _write_image(spec, out: Path, processes: int) -> dict:
    from mangaextractor_spark.fixtures.generator import generate_corpus

    c = generate_corpus(spec, processes=processes if processes > 1 else None)
    docs, media = c["documents"], c["media"]
    _write_docs(
        [{"doc_id": d, "spans": s} for d, s in zip(docs["doc_id"], docs["spans"])],
        out / "documents.parquet",
    )
    _write_parts(
        pa.Table.from_pandas(media, preserve_index=False),
        out / "media.parquet",
        MEDIA_ROW_GROUP,
    )
    _sorted_golden(c["golden_spans"]).to_parquet(out / "golden.parquet", index=False)
    return {
        "n_docs": len(docs),
        "n_pages": len(media),
        "n_spans_in": int(sum(len(s) for s in docs["spans"])),
        "media_bytes": int(media["image_bytes"].map(len).sum()),
    }


# --- interleaved HTML / text / image-ref corpus ---------------------------

# Tokens carrying every character the html chain must unescape.
_SPECIAL_WORDS = ("R&D", "x<y", "a>b", 'say"hi"', "it's", "&amp;lit")
_HTML_HEAD = (
    "<html><head><title>T</title><style>.x{color:red}</style></head><body>"
    '<header>SITE</header><nav id="menu">HOME | ABOUT | NAVJUNK</nav><article><p>'
)
_HTML_TAIL = (
    "</p></article><aside>ADS</aside><footer>(c) FOOTERJUNK</footer>"
    "<script>var x = 1;</script></body></html>"
)
_JUNK_HTML = "<nav>ONLY JUNK</nav>"


def _escape(text: str) -> str:
    """The inverse of functions/html.py's unescape: '&' first so the
    escaping is injective."""
    for ch, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"), ("'", "&#39;")):
        text = text.replace(ch, ent)
    return text


def interleaved_rows(spec: InterleavedSpec) -> tuple[list[dict], list[dict]]:
    """(documents rows, golden span rows) for ``spec``.

    Each doc holds html spans (body words wrapped in head/nav/aside/
    footer/script boilerplate), plain text spans (some empty), image-ref
    spans and one pure-boilerplate html span, at distinct random offsets
    in a shuffled array order. The golden is derived from the generated
    words: html -> its body words, text -> verbatim, image -> its
    media_ref; empty non-image spans dropped; survivors numbered by
    offset order."""
    rng = np.random.default_rng(spec.seed)
    vocab = np.array([f"w{i:03d}" for i in range(900)] + list(_SPECIAL_WORDS), dtype=object)
    n_spans = spec.html_spans + spec.text_spans + spec.image_spans + 1
    n_worded = spec.html_spans + spec.text_spans
    docs: list[dict] = []
    golden: list[dict] = []
    for d in range(spec.n_docs):
        doc_id = f"doc{d:07d}"
        lengths = rng.integers(spec.min_words, spec.max_words + 1, size=n_worded)
        words = vocab[rng.integers(0, len(vocab), size=int(lengths.sum()))]
        cuts = np.cumsum(lengths)[:-1]
        bodies = [" ".join(w) for w in np.split(words, cuts)]
        empty = rng.random(spec.text_spans) < spec.p_empty_text
        entries = []  # (kind, raw text, media_ref, expected text or None)
        for body in bodies[: spec.html_spans]:
            entries.append(("html", _HTML_HEAD + _escape(body) + _HTML_TAIL, "", body))
        for text, is_empty in zip(bodies[spec.html_spans :], empty):
            entries.append(("text", "", "", None) if is_empty else ("text", text, "", text))
        for i in range(spec.image_spans):
            entries.append(("image", "", f"img/{doc_id}/{i}", ""))
        entries.append(("html", _JUNK_HTML, "", None))
        offsets = rng.choice(10 * n_spans, size=n_spans, replace=False).tolist()
        perm = rng.permutation(n_spans).tolist()
        docs.append(
            {
                "doc_id": doc_id,
                "spans": [
                    {"kind": entries[j][0], "text": entries[j][1],
                     "media_ref": entries[j][2], "offset": offsets[j]}
                    for j in perm
                ],
            }
        )
        survivors = [e for _, e in sorted(zip(offsets, entries)) if e[3] is not None]
        for order, (kind, _, media_ref, expected) in enumerate(survivors):
            golden.append(
                {"doc_id": doc_id, "kind": "image" if kind == "image" else "text",
                 "text": expected, "media_ref": media_ref, "order": order}
            )
    return docs, golden


def _write_interleaved(spec: InterleavedSpec, out: Path) -> dict:
    docs, golden = interleaved_rows(spec)
    _write_parts(
        pa.Table.from_pylist(docs, schema=DOCS_SCHEMA), out / "documents.parquet", 2048,
        compression="none",
    )
    _sorted_golden(pd.DataFrame(golden)).to_parquet(out / "golden.parquet", index=False)
    return {
        "n_docs": len(docs),
        "n_pages": spec.n_docs * spec.image_spans,
        "n_spans_in": len(docs) * (spec.html_spans + spec.text_spans + spec.image_spans + 1),
        "media_bytes": 0,
    }
