"""HTML main-content operator semantics (beyond the oracle parity)."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from mangaextractor_spark.functions.html import (
    BOILER_RE,
    BOILER_TAGS,
    WS,
    html_main_sql,
    html_main_text,
    html_title,
    html_title_sql,
)

CASES = [
    # boilerplate regions vanish wholesale, case-insensitively
    (
        "<html><head><title>T</title><style>p{x}</style></head>"
        "<body><NAV>menu junk</NAV><p>keep me</p>"
        "<footer>legal junk</footer></body></html>",
        "T",
        "keep me",
    ),
    # entities unescape; &amp;lt; stays &lt; (single pass, amp last)
    (
        "<body><p>a &lt;tag&gt; &amp; more &amp;lt;literal</p></body>",
        "",
        'a <tag> & more &lt;literal',
    ),
    # multi-line script with attributes dies; whitespace collapses
    (
        "<script type='x'>\nvar a = '<p>sneaky</p>';\n</script>  real\n\ntext ",
        "",
        "real text",
    ),
    # aside + header dropped, nested inline tags stripped
    (
        "<header>top</header><article>big <b>bold</b> idea</article><aside>ads</aside>",
        "",
        "big bold idea",
    ),
    # self-nesting through another boilerplate tag: the region closes at
    # the FIRST </aside>, so the outer tail leaks (a per-tag chain that
    # dropped <header> first gave "" here; both misread the tree)
    ("<aside><header><aside>C</aside></header> B</aside>", "", "B"),
    ("<NAV><script><nav>x</nav></script> y</NAV> z", "", "y z"),
    # direct self-nesting leaks the same way on every form
    ("<aside><aside>C</aside> B</aside>", "", "B"),
    # \x0B is whitespace on both engines (Java's \s has it, RE2's not)
    ("<title>t\x0bu</title><p>a\x0bb\t c</p>", "t u", "a b c"),
    # numeric entities other than &#39; pass through verbatim
    ("<p>&#60;b&#62; &#39;q&#39;</p>", "", "&#60;b&#62; 'q'"),
]


def test_html_operators(spark):
    df = spark.createDataFrame([(h,) for h, *_ in CASES], "html string")
    rows = df.select(
        "html",
        html_title(F.col("html")).alias("t"),
        html_main_text(F.col("html")).alias("m"),
    ).collect()
    got = {r.html: (r.t, r.m) for r in rows}
    for html, t, m in CASES:
        assert got[html] == (t, m), html


def test_main_text_is_three_regex_passes(spark):
    """Boilerplate, tags, whitespace: one regexp_replace each. A pass
    per boilerplate tag made the chain ~4x slower on its hot path."""
    expr = str(html_main_text(F.col("h")))
    assert expr.count("regexp_replace(") == 3, expr


# --- fused region pass vs the per-tag chain it replaced -------------------
# Pure-Python `re` model of the chain. The per-tag reference lives only
# here: it is the old definition, one pass per tag in BOILER_TAGS order.

_PER_TAG = [re.compile(rf"(?is)<{t}\b.*?</{t}{WS}*>") for t in BOILER_TAGS]
_FUSED = re.compile(BOILER_RE)
_TAG = re.compile(r"(?s)<[^>]*>")
_WS_RUN = re.compile(WS + "+")
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"))


def _finish(h: str) -> str:
    h = _TAG.sub(" ", h)
    for ent, ch in _ENTITIES:
        h = h.replace(ent, ch)
    return _WS_RUN.sub(" ", h).strip(" ")


def _per_tag_main(h: str) -> str:
    for rx in _PER_TAG:
        h = rx.sub(" ", h)
    return _finish(h)


def _fused_main(h: str) -> str:
    return _finish(_FUSED.sub(" ", h))


# Content tags include names that share a prefix with a boilerplate tag;
# \b must keep them apart.
_CONTENT_TAGS = ("p", "div", "article", "b", "span", "headline", "navbar", "titles", "main")
_WORDS = ("alpha", "beta", "x<y", "1 < 2", "a > b", "&amp;", "&lt;b&gt;", "&quot;q&quot;",
          "&#39;", "&#60;", "&amp;lt;", "caf\u00e9", "\u65e5\u672c")
_SPACES = (" ", "  ", "\n", "\t", "\x0b", "\f", "\r\n")
_CLOSE_WS = ("", "", "", " ", "\n", "\t ")


def _case(rng: random.Random, name: str) -> str:
    return rng.choice((name, name.upper(), name.capitalize()))


def _open(rng: random.Random, name: str) -> str:
    attrs = rng.choice(("", ' class="c"', " id=x", ' data-v="a b"', "\n  role=nav"))
    return f"<{_case(rng, name)}{attrs}>"


def _close(rng: random.Random, name: str) -> str:
    return f"</{_case(rng, name)}{rng.choice(_CLOSE_WS)}>"


def _tree(rng: random.Random, depth: int, above: frozenset) -> str:
    """A well-formed fragment; no boilerplate tag inside itself."""
    parts = []
    for _ in range(rng.randint(1, 4)):
        r = rng.random()
        if depth == 0 or r < 0.4:
            parts.append(rng.choice(_WORDS) + rng.choice(_SPACES))
            continue
        free = [t for t in BOILER_TAGS if t not in above]
        if r < 0.7 and free:
            t = rng.choice(free)
            inner = _tree(rng, depth - 1, above | {t})
        else:
            t = rng.choice(_CONTENT_TAGS)
            inner = _tree(rng, depth - 1, above)
        parts.append(_open(rng, t) + inner + _close(rng, t))
    return "".join(parts)


def test_fused_region_pass_matches_per_tag_chain():
    rng = random.Random(20260417)
    nested = 0
    for _ in range(100_000):
        h = _tree(rng, rng.randint(1, 4), frozenset())
        assert _fused_main(h) == _per_tag_main(h), h
        nested += any(_FUSED.search(h, m.start() + 1, m.end()) for m in _FUSED.finditer(h))
    # the generator really nests boilerplate inside boilerplate
    assert nested > 10_000, nested


def test_fused_model_matches_spark(spark):
    """The Python model above IS the Spark expression, on fuzz trees."""
    rng = random.Random(7)
    rows = [(_tree(rng, rng.randint(1, 4), frozenset()),) for _ in range(2_000)]
    got = (
        spark.createDataFrame(rows, "h string")
        .select("h", html_main_text(F.col("h")).alias("m"))
        .collect()
    )
    for r in got:
        assert r.m == _fused_main(r.h), r.h


# --- Spark vs DuckDB on tag soup ------------------------------------------

_SOUP_TOKENS = (
    "text", " ", "\t", "\x0b", "\n", "\r", "\f", "  ", "&amp;", "&lt;", "&gt;", "&quot;",
    "&#39;", "&#60;", "&amp;lt;", "x<y", "a > b", "caf\u00e9", "\u65e5\u672c", "<br/>",
    "<!-- c -->",
)


def _soup(rng: random.Random) -> str:
    """Unbalanced, crossing and self-nested open/close tags mixed with
    text: no well-formedness at all."""
    out = []
    for _ in range(rng.randint(0, 24)):
        r = rng.random()
        name = rng.choice(BOILER_TAGS + _CONTENT_TAGS)
        if r < 0.35:
            out.append(_open(rng, name))
        elif r < 0.6:
            close = _close(rng, name)
            out.append(close[:-1] + "\x0b>" if rng.random() < 0.1 else close)
        else:
            out.append(rng.choice(_SOUP_TOKENS))
    return "".join(out)


def test_spark_duckdb_parity_on_tag_soup(spark):
    import duckdb
    import pandas as pd

    rng = random.Random(41)
    pdf = pd.DataFrame({"i": range(20_000), "h": [_soup(rng) for _ in range(20_000)]})
    sp = (
        spark.createDataFrame(pdf)
        .select("i", html_title(F.col("h")).alias("t"), html_main_text(F.col("h")).alias("m"))
        .toPandas()
        .sort_values("i", ignore_index=True)
    )
    con = duckdb.connect()
    con.register("soup", pdf)
    dk = con.execute(
        f"SELECT i, {html_title_sql('h')} AS t, {html_main_sql('h')} AS m FROM soup ORDER BY i"
    ).df()
    con.close()
    diff = [
        (h, st, dt, sm, dm)
        for h, st, dt, sm, dm in zip(pdf.h, sp.t, dk.t, sp.m, dk.m)
        if (st, sm) != (dt, dm)
    ]
    assert not diff, diff[:3]
    # the soup reaches the \x0B and boilerplate cases it exists for
    assert sum("\x0b" in h for h in pdf.h) > 1_000
    assert (pdf.h.str.len() > sp.m.str.len() + 20).sum() > 1_000


class TestPdf:
    def test_roundtrip_with_escapes(self):
        from mangaextractor_spark.fixtures.pdf import build_simple_pdf, extract_pdf_text

        lines = ["plain line", "(paren) start", "back\\slash", "a)b(c"]
        assert extract_pdf_text(build_simple_pdf(lines)) == " ".join(lines)

    def test_page_count_and_gating(self):
        from mangaextractor_spark.fixtures.pdf import (
            UnsupportedPdfError,
            build_simple_pdf,
            extract_pdf_text,
            pdf_page_count,
        )
        import pytest as _pytest

        b = build_simple_pdf(["x"])
        assert pdf_page_count(b) == 1
        with _pytest.raises(UnsupportedPdfError):
            extract_pdf_text(b"not a pdf")
        flate = b.replace(b"<< /Length", b"<< /Filter /FlateDecode /Length")
        with _pytest.raises(UnsupportedPdfError):
            extract_pdf_text(flate)

    def test_empty_document(self):
        from mangaextractor_spark.fixtures.pdf import build_simple_pdf, extract_pdf_text

        assert extract_pdf_text(build_simple_pdf([])) == ""


# --- density-based DOM heuristics (round 4) -------------------------------


def test_dom_density_blocks_semantics(spark):
    from mangaextractor_spark.functions.html import (
        dom_density_main_text,
    )
    import pandas as pd

    html = (
        '<p><a href="/">Homepage</a> <a href="/">About us</a> <a href="/">Contact</a> nav</p>'  # link-dense
        "<p>tiny</p>"  # too short
        "<p>this is a long content paragraph that clearly passes the bar</p>"
        '<p>content with an inline <a href="#">anchor</a> still passes the bar</p>'
    )
    df = spark.createDataFrame(pd.DataFrame({"html": [html]}))
    out = df.select(dom_density_main_text(F.col("html")).alias("t")).first().t
    assert "long content paragraph" in out
    assert "inline anchor still passes" in out
    assert "Homepage" not in out and "tiny" not in out


def test_dom_density_oracle_null_trap(spark):
    """DuckDB's array_to_string([]) is NULL (Spark's array_join([]) is
    '') — a linkless block or a page with zero kept blocks must not
    silently drop through the oracle. Regression for the COALESCE in
    dom_blocks_sql / the query's main_text."""
    import duckdb
    import pandas as pd

    from mangaextractor_spark.functions.html import (
        DENSITY_MIN_CHARS,
        dom_blocks_sql,
        dom_dense_blocks,
    )

    rows = pd.DataFrame(
        {
            "html": [
                "<p>a linkless paragraph easily long enough to keep</p>",
                '<p><a href="#">A</a><a href="#">B</a> all link junk here</p>',
            ]
        }
    )
    sdf = (
        spark.createDataFrame(rows)
        .select(dom_dense_blocks(F.col("html")).alias("b"))
        .toPandas()
    )
    con = duckdb.connect()
    con.register("t", rows)
    odf = con.execute(f"SELECT {dom_blocks_sql('html')} AS b FROM t").df()
    con.close()
    for srow, orow in zip(sdf.b, odf.b):
        got_s = [(x["text_len"], x["link_len"]) for x in srow]
        got_o = [(x["text_len"], x["link_len"]) for x in orow]
        assert got_s == got_o
        assert all(v is not None for pair in got_o for v in pair)


def test_html_table_extract_semantics(spark, sf_small):
    from mangaextractor_spark.queries import REGISTRY

    pdf = REGISTRY["html_table_extract"].spark(spark, sf_small).toPandas()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").toPandas()
    # exactly 2 rows x 3 cols per document; the <p> decoy never matches
    assert len(pdf) == 6 * len(docs)
    per = pdf.groupby("doc_id").size()
    assert (per == 6).all()
    hdr = pdf[pdf["row_idx"] == 0].sort_values(["doc_id", "col_idx"])
    assert set(map(tuple, hdr.groupby("doc_id")["cell_text"].apply(list))) == {
        ("lang", "source", "chars")
    }
    # data row round-trips the doc's own columns (incl. whitespace trim)
    data = pdf[pdf["row_idx"] == 1].pivot(
        index="doc_id", columns="col_idx", values="cell_text"
    )
    docs = docs.set_index("doc_id")
    assert (data[0] == docs["lang"]).all()
    assert (data[1] == docs["source"]).all()
    assert (data[2] == docs["n_chars"].astype(str)).all()


def test_html_link_graph_semantics(spark, sf_small):
    from mangaextractor_spark.queries import REGISTRY

    pdf = REGISTRY["html_link_graph"].spark(spark, sf_small).toPandas()
    n_docs = spark.read.parquet(f"{sf_small}/documents.parquet").count()
    # 2 absolute links per page edge into the rollup; the relative link never does
    assert pdf["n_links"].sum() == 2 * n_docs
    doms = {f"site{i}.example" for i in range(7)}
    assert set(pdf["src_domain"]) <= doms and set(pdf["dst_domain"]) <= doms
    assert (pdf["n_pages"] <= pdf["n_links"]).all()
    assert (pdf["n_pages"] >= 1).all()


def test_host_rank_matches_integer_recompute(spark, sf_small):
    from mangaextractor_spark.queries import REGISTRY
    from mangaextractor_spark.queries.html_queries import HOST_PR_ITERS

    lg = REGISTRY["html_link_graph"].spark(spark, sf_small).toPandas()
    got = REGISTRY["host_rank"].spark(spark, sf_small).toPandas()

    hosts = sorted(set(lg["src_domain"]) | set(lg["dst_domain"]))
    outw = {h: 0 for h in hosts}
    for _, r in lg.iterrows():
        outw[r["src_domain"]] += int(r["n_links"])
    pr = {h: 1_000_000 for h in hosts}
    for _ in range(HOST_PR_ITERS):
        s = {h: 0 for h in hosts}
        for _, r in lg.iterrows():
            src, dst, w = r["src_domain"], r["dst_domain"], int(r["n_links"])
            if outw[src] > 0:
                s[dst] += (pr[src] * w) // outw[src]
        pr = {h: 150_000 + (850 * s[h]) // 1000 for h in hosts}

    want = sorted(((h, outw[h], pr[h]) for h in hosts), key=lambda t: (-t[2], t[0]))
    assert list(map(tuple, got[["host", "outw", "pr"]].values.tolist())) == want


def test_robots_gate_semantics(spark, sf_small):
    from mangaextractor_spark.queries import REGISTRY

    pdf = REGISTRY["robots_gate"].spark(spark, sf_small).toPandas().set_index("host")
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").toPandas()
    # independent recompute of the blocking rule
    for i in range(7):
        host = f"site{i}.example"
        on_host = docs[docs["doc_id"] % 7 == i]
        blocked = int((on_host["doc_id"] % 3 == 0).sum()) if i % 2 == 0 else 0
        assert pdf.loc[host, "n_pages"] == len(on_host)
        assert pdf.loc[host, "n_blocked"] == blocked
        assert pdf.loc[host, "n_kept"] == len(on_host) - blocked
    # odd hosts (only the /admin/ decoy rule) never block anything
    odd = pdf.loc[[f"site{i}.example" for i in (1, 3, 5)]]
    assert (odd["n_blocked"] == 0).all()
