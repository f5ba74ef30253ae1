"""Output checks: a conversion result against the generator's facts, and a
query result against its DuckDB oracle. A check returns None when the
output is right and a one-line reason when it is wrong."""

from __future__ import annotations

import hashlib
import re

_WORD_RE = re.compile(r"[a-z]+")
_TABLE_RULE_RE = re.compile(r"^\|(?:---\|)+$", re.MULTILINE)


def check_conversion(doc, markdown: str | None, n_images: int, error: str | None) -> str | None:
    """`doc` is a corpus.Doc; the rest is one converted row."""
    if error is not None:
        return f"{doc.name}: conversion error: {error[:120]}"
    if markdown is None:
        return f"{doc.name}: no markdown"
    words = set(_WORD_RE.findall(markdown))
    missing = [t for t in doc.tokens if t not in words]
    if missing:
        return f"{doc.name}: {len(missing)} of {len(doc.tokens)} tokens missing, e.g. {missing[0]}"
    if n_images != doc.images:
        return f"{doc.name}: {n_images} images, expected {doc.images}"
    tables = len(_TABLE_RULE_RE.findall(markdown))
    if tables != doc.tables:
        return f"{doc.name}: {tables} tables, expected {doc.tables}"
    return None


# ---------------------------------------------------------------------------
# query results: the same canonical form the repo's oracle dry-run uses
# (lowercase-sorted columns, pandas mergesort over every column, per-cell
# normalisation), reduced to (row count, sha256 of the canonical rows)
# ---------------------------------------------------------------------------


def _norm(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "item"):
        return _norm(v.item())
    return str(v)


def fingerprint(pdf) -> tuple[int, str]:
    """(row count, hash of the canonical rows) of a pandas frame."""
    cols = sorted(pdf.columns, key=lambda c: c.lower())
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort")
    h = hashlib.sha256("\x1f".join(c.lower() for c in cols).encode())
    for row in pdf.itertuples(index=False, name=None):
        h.update(("\x1e" + "\x1f".join(_norm(v) for v in row)).encode())
    return len(pdf), h.hexdigest()


def check_query(name: str, got: tuple[int, str], want: tuple[int, str] | None) -> str | None:
    """`want` None means the query has no oracle: rows-only, which passes
    on any row count the query produced without raising."""
    if want is None:
        return None
    if got[0] != want[0]:
        return f"{name}: {got[0]} rows, oracle {want[0]}"
    if got[1] != want[1]:
        return f"{name}: value hash differs from oracle"
    return None
