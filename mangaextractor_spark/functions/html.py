"""HTML main-content extraction operators (north_rule parenthetical:
'HTML boilerplate strip ... DOM heuristics') as pure Column
expressions — tag stripping, boilerplate-region removal, entity
unescape, title extraction. Regexes stay in the Java-regex ∩ RE2
common subset so every operator has a DuckDB oracle twin. Whitespace
is the explicit class WS = [ \\t\\n\\x0B\\f\\r], never \\s: Java's \\s
includes \\x0B and RE2's does not, so \\s would let the engines differ.

Scope (documented): boilerplate regions — <head>, <script>, <style>,
<nav>, <header>, <footer>, <aside>, <title> — are dropped in ONE
leftmost-first pass: scanning left to right, a region runs from a
boilerplate open tag to the first close of that same tag, and the
scan resumes after it, so a region swallows whatever boilerplate it
contains. Remaining tags are stripped, and the entities &lt; &gt;
&quot; &#39; &amp; unescaped (other numeric entities such as &#60;
pass through verbatim). This is the deterministic, SQL-expressible
80% of boilerplate removal; density-based DOM heuristics over real
pages belong in an Arrow kernel stage like the image ladder.

Self-nesting caveat: the lazy match closes at the FIRST close of the
tag, so a boilerplate element holding another element of the same tag
leaks the tail after the inner close:
<aside><header><aside>C</aside></header> B</aside> gives "B". On
well-formed HTML without such self-nesting the region pass equals
dropping each boilerplate element whole.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (?is): case-insensitive + dotall — both supported by Java regex and
# RE2. RE2 has no backreferences, so instead of <(a|b)>.*?</\1> the
# region pattern is one alternative per tag, each closing on its own
# tag; at a '<' only the alternative whose name matches reaches the
# lazy scan, so the whole tag set costs one scan of the string (a
# pass per tag costs ~4x as much). head (incl. its title/style/meta)
# is metadata, not content; \b keeps <head> from swallowing <header>,
# which has its own alternative.
BOILER_TAGS = ("head", "script", "style", "nav", "header", "footer", "aside", "title")
WS = r"[ \t\n\x0B\f\r]"
BOILER_RE = "(?is)<(?:" + "|".join(rf"{t}\b.*?</{t}{WS}*>" for t in BOILER_TAGS) + ")"
_TAG_RE = r"(?s)<[^>]*>"
_WS_RE = WS + "+"
_TITLE_RE = rf"(?is)<title[^>]*>(.*?)</title{WS}*>"


def drop_boilerplate_regions(html: Column) -> Column:
    """Remove every BOILER_TAGS region in one leftmost-first pass."""
    return F.regexp_replace(html, BOILER_RE, " ")


def strip_tags(text: Column) -> Column:
    return F.regexp_replace(text, _TAG_RE, " ")


def unescape_entities(text: Column) -> Column:
    """The five predefined entities; &amp; LAST so '&amp;lt;' yields
    '&lt;' (the standard single-pass order)."""
    out = text
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def escape_text(text: Column) -> Column:
    """Entity-escape body text for embedding in synthetic HTML (& first,
    the standard order so escaping is injective)."""
    out = F.replace(text, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    return F.replace(out, F.lit(">"), F.lit("&gt;"))


def escape_sql(expr: str) -> str:
    """DuckDB twin of escape_text."""
    return f"REPLACE(REPLACE(REPLACE({expr}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"


def collapse_ws(text: Column) -> Column:
    return F.trim(F.regexp_replace(text, _WS_RE, " "))


def html_title(html: Column) -> Column:
    return collapse_ws(unescape_entities(F.regexp_extract(html, _TITLE_RE, 1)))


def html_main_text(html: Column) -> Column:
    """Boilerplate regions out -> tags out -> entities -> whitespace."""
    return collapse_ws(unescape_entities(strip_tags(drop_boilerplate_regions(html))))


def html_main_sql(col: str) -> str:
    """DuckDB expression mirroring html_main_text step by step."""
    expr = f"REGEXP_REPLACE({col}, '{BOILER_RE}', ' ', 'g')"
    expr = f"REGEXP_REPLACE({expr}, '{_TAG_RE}', ' ', 'g')"
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "''"), ("&amp;", "&")):
        expr = f"REPLACE({expr}, '{ent}', '{ch}')"
    return f"TRIM(REGEXP_REPLACE({expr}, '{_WS_RE}', ' ', 'g'))"


def html_title_sql(col: str) -> str:
    expr = f"REGEXP_EXTRACT({col}, '{_TITLE_RE}', 1)"
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "''"), ("&amp;", "&")):
        expr = f"REPLACE({expr}, '{ent}', '{ch}')"
    return f"TRIM(REGEXP_REPLACE({expr}, '{_WS_RE}', ' ', 'g'))"


# --- density-based DOM heuristics (round 4) -------------------------------
# The jusText/Boilerpipe-family signal (public algorithms): boilerplate
# blocks are short and link-dense, content blocks are long and link-
# sparse. Block = <p> element here (the deterministic, SQL-expressible
# block unit); per block we compute cleaned text length and cleaned
# link-text length and keep blocks with text_len >= DENSITY_MIN_CHARS
# and link density <= 1/2 — expressed as the INTEGER comparison
# 2*link_len <= text_len so the rule is exact on both engines (no
# float ratio in the keep decision).

DENSITY_MIN_CHARS = 20
_P_BLOCK_RE = rf"(?is)<p\b[^>]*>(.*?)</p{WS}*>"
_A_TEXT_RE = rf"(?is)<a\b[^>]*>(.*?)</a{WS}*>"


def _clean(text: Column) -> Column:
    return collapse_ws(unescape_entities(strip_tags(text)))


def dom_dense_blocks(html: Column) -> Column:
    """array<struct<text, text_len, link_len>> of the page's <p> blocks
    after cleaning — the density features, computed map-side."""
    blocks = F.regexp_extract_all(html, F.lit(_P_BLOCK_RE), 1)
    return F.transform(
        blocks,
        lambda b: F.struct(
            _clean(b).alias("text"),
            F.length(_clean(b)).alias("text_len"),
            F.length(
                _clean(F.array_join(F.regexp_extract_all(b, F.lit(_A_TEXT_RE), 1), " "))
            ).alias("link_len"),
        ),
    )


def dom_density_main_text(html: Column) -> Column:
    """Main text = space-join of blocks that pass the density rule."""
    kept = F.filter(
        dom_dense_blocks(html),
        lambda s: (s["text_len"] >= DENSITY_MIN_CHARS)
        & (s["link_len"] * 2 <= s["text_len"]),
    )
    return F.array_join(F.transform(kept, lambda s: s["text"]), " ")


def _clean_sql(expr: str) -> str:
    out = f"REGEXP_REPLACE({expr}, '{_TAG_RE}', ' ', 'g')"
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "''"), ("&amp;", "&")):
        out = f"REPLACE({out}, '{ent}', '{ch}')"
    return f"TRIM(REGEXP_REPLACE({out}, '{_WS_RE}', ' ', 'g'))"


def dom_blocks_sql(col: str) -> str:
    """DuckDB twin of dom_dense_blocks. DuckDB 1.0's
    array_to_string([]) is NULL where Spark's array_join([]) is '' —
    COALESCE pins the linkless-block case to 0 like the Spark side."""
    blk_list = f"regexp_extract_all({col}, '{_P_BLOCK_RE}', 1)"
    link_join = f"COALESCE(array_to_string(regexp_extract_all(b, '{_A_TEXT_RE}', 1), ' '), '')"
    return (
        f"list_transform({blk_list}, b -> struct_pack("
        f"text := {_clean_sql('b')}, "
        f"text_len := length({_clean_sql('b')}), "
        f"link_len := length({_clean_sql(link_join)})))"
    )


def dom_density_main_sql(col: str) -> str:
    kept = (
        f"list_filter({dom_blocks_sql(col)}, s -> "
        f"s.text_len >= {DENSITY_MIN_CHARS} AND s.link_len * 2 <= s.text_len)"
    )
    return f"array_to_string(list_transform({kept}, s -> s.text), ' ')"
