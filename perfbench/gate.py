"""Golden gate: per-document span-sequence equality on
``(kind, text, media_ref, order)``."""

from __future__ import annotations

import pandas as pd

from .corpus import GOLDEN_COLS


def mismatched_docs(result: pd.DataFrame, golden: pd.DataFrame) -> set[str]:
    """Doc ids whose emitted span sequence differs from the golden one:
    a span missing, extra, duplicated or differing in any field.
    ``golden`` must be sorted by (doc_id, order) with a fresh index."""
    res = result[GOLDEN_COLS].astype({"order": "int32"})
    res = res.sort_values(["doc_id", "order"], ignore_index=True)
    if res.equals(golden):
        return set()
    bad = set(res.loc[res.duplicated(["doc_id", "order"], keep=False), "doc_id"])
    m = res.drop_duplicates(["doc_id", "order"]).merge(
        golden, on=["doc_id", "order"], how="outer", suffixes=("_r", "_g"), indicator=True
    )
    differs = m["_merge"] != "both"
    for col in ("kind", "text", "media_ref"):
        differs |= m[f"{col}_r"] != m[f"{col}_g"]
    bad.update(m.loc[differs, "doc_id"])
    return bad
