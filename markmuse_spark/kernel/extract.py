"""Unified extraction kernel: payload bytes -> assembled Markdown document.

Per-document composition of the kernel stages.  :func:`extract_document`
is the one document entry point: both markdown operators in
:mod:`markmuse_spark.operators.extract` call it per row from their shared
``mapInArrow`` runner.

1. dispatch on payload magic: ``%PDF`` -> PDF box-geometry extractor,
   otherwise HTML boilerplate-strip extractor
2. deterministic MarkMuse tail via
   :mod:`markmuse_spark.kernel.markdown_assembly` — the plain one (image
   map, link-rewrite join, page concat), or with ``captions`` the A11
   enhanced one (caption injection, no global rewrite)

Per-row errors are captured, never raised — the Spark analog of the
reference's per-document try/except in the batch loop
(``/root/reference/markmuse.py:756-777``): one poisoned payload must not
kill a 10^12-row job.
"""

from __future__ import annotations

from typing import Any, Optional

from markmuse_spark.kernel import html_extract, pdf_extract
from markmuse_spark.kernel.markdown_assembly import (
    assemble_one,
    assemble_one_enhanced,
)


def extract_pages_sniffed(payload) -> list[dict[str, Any]]:
    """Kernel dispatch on sniffed payload type.  A crawl population is
    full of PDFs with junk before the ``%PDF`` header (Annex-C 1024-byte
    tolerance); dispatching those to the HTML extractor would mint the
    raw PDF syntax as markdown — mojibake straight into the corpus.

    Routing and slicing share ONE rule
    (:func:`markmuse_spark.kernel.pdf_extract.pdf_header_offset`): the
    sniff here only ROUTES, and the PDF kernel slices a junk-prefixed
    payload from the same offset at its entry (prepended junk leaves
    xref offsets header-relative, so they land after the slice;
    junk-relative offsets miss and fall through to body-scan
    recovery)."""
    if pdf_extract.pdf_header_offset(payload) is None:
        return html_extract.extract_pages(payload)
    return pdf_extract.extract_pages(payload)


def _partial_note(pages: list[dict[str, Any]]) -> Optional[str]:
    """Fold per-page salvage notes (``"damage"`` keys from the PDF
    kernel, round-7 ask #1) into ONE deterministic document-level error:
    ``PartialExtraction: k/n pages damaged``.  Deliberately carries no
    exception text — the note is part of the oracled output surface and
    must be reproducible from the generator-side document model alone.
    The recovered pages' markdown ships alongside it (partial result,
    not all-or-nothing)."""
    n_damaged = sum(1 for p in pages if p.get("damage"))
    if not n_damaged:
        return None
    return f"PartialExtraction: {n_damaged}/{len(pages)} pages damaged"


def extract_document(
    url: str,
    payload: Optional[bytes],
    captions: Optional[dict[str, str]] = None,
) -> dict[str, Any]:
    """Extract + assemble one document; errors land in the ``error``
    field.  A damaged-but-salvageable PDF (truncated download, corrupt
    stream) yields BOTH: the recovered pages' markdown and a
    deterministic ``PartialExtraction`` error note.

    ``captions`` selects the assembly tail: ``None`` takes the plain one
    (:func:`assemble_one`); a dict, even an empty one, takes the A11
    enhanced one (:func:`assemble_one_enhanced`: captioned refs gain the
    analysis block, every other ref stays verbatim) and adds
    ``n_enhanced`` to the row."""
    try:
        if payload is None or len(payload) == 0:
            raise ValueError("empty payload")
        # slice-compare inside the sniff, not startswith: payload may be
        # a zero-copy memoryview of the Arrow batch (PEP 3118 equality)
        pages = extract_pages_sniffed(payload)
        if captions is None:
            doc = assemble_one(url, pages)
        else:
            doc = assemble_one_enhanced(url, pages, captions)
        row = {
            "url": url,
            "markdown": doc["markdown"],
            "extracted_text": doc["extracted_text"],
            "n_pages": len(pages),
            "n_images": len(doc["image_manifest"]),
            "n_chars": len(doc["markdown"]),
            "error": _partial_note(pages),
        }
    except Exception as exc:
        doc = {"n_enhanced": 0}
        row = {
            "url": url,
            "markdown": None,
            "extracted_text": None,
            "n_pages": 0,
            "n_images": 0,
            "n_chars": 0,
            "error": f"{type(exc).__name__}: {exc}",
        }
    if captions is not None:
        row["n_enhanced"] = doc["n_enhanced"]
    return row
