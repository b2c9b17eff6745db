"""Unified extraction kernel: payload bytes -> assembled Markdown document.

Per-document composition of the three kernel stages (the Spark operators in
:mod:`markmuse_spark.operators.extract` call :func:`extract_document` per
row from a ``mapInArrow`` iterator):

1. dispatch on payload magic: ``%PDF`` -> PDF box-geometry extractor,
   otherwise HTML boilerplate-strip extractor
2. deterministic MarkMuse tail (image map, link-rewrite join, page concat)
   via :mod:`markmuse_spark.kernel.markdown_assembly`

Per-row errors are captured, never raised — the Spark analog of the
reference's per-document try/except in the batch loop
(``/root/reference/markmuse.py:756-777``): one poisoned payload must not
kill a 10^12-row job.
"""

from __future__ import annotations

from typing import Any, Optional

from markmuse_spark.kernel import html_extract, pdf_extract
from markmuse_spark.kernel.markdown_assembly import assemble_one


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


def extract_document(url: str, payload: Optional[bytes]) -> dict[str, Any]:
    """Extract + assemble one document; errors land in the ``error``
    field.  A damaged-but-salvageable PDF (truncated download, corrupt
    stream) yields BOTH: the recovered pages' markdown and a
    deterministic ``PartialExtraction`` error note."""
    try:
        if payload is None or len(payload) == 0:
            raise ValueError("empty payload")
        # slice-compare inside the sniff, not startswith: payload may be
        # a zero-copy memoryview of the Arrow batch (PEP 3118 equality)
        pages = extract_pages_sniffed(payload)
        doc = assemble_one(url, pages)
        return {
            "url": url,
            "markdown": doc["markdown"],
            "extracted_text": doc["extracted_text"],
            "n_pages": len(pages),
            "n_images": len(doc["image_manifest"]),
            "n_chars": len(doc["markdown"]),
            "error": _partial_note(pages),
        }
    except Exception as exc:
        return {
            "url": url,
            "markdown": None,
            "extracted_text": None,
            "n_pages": 0,
            "n_images": 0,
            "n_chars": 0,
            "error": f"{type(exc).__name__}: {exc}",
        }


def extract_document_enhanced(
    url: str, payload: Optional[bytes], captions: Optional[dict[str, str]]
) -> dict[str, Any]:
    """Enhanced-mode variant (A11): same kernel dispatch, caption-injecting
    assembly tail (``assemble_one_enhanced``)."""
    from markmuse_spark.kernel.markdown_assembly import assemble_one_enhanced

    try:
        if payload is None or len(payload) == 0:
            raise ValueError("empty payload")
        pages = extract_pages_sniffed(payload)  # see extract_document
        doc = assemble_one_enhanced(url, pages, captions)
        return {
            "url": url,
            "markdown": doc["markdown"],
            "extracted_text": doc["extracted_text"],
            "n_pages": len(pages),
            "n_images": len(doc["image_manifest"]),
            "n_enhanced": doc["n_enhanced"],
            "n_chars": len(doc["markdown"]),
            "error": _partial_note(pages),
        }
    except Exception as exc:
        return {
            "url": url,
            "markdown": None,
            "extracted_text": None,
            "n_pages": 0,
            "n_images": 0,
            "n_enhanced": 0,
            "n_chars": 0,
            "error": f"{type(exc).__name__}: {exc}",
        }
