"""Production assembly kernel: the deterministic MarkMuse tail.

Byte-identical to :mod:`markmuse_spark.golden.oracle` (the fixture mint) and
therefore to the reference semantics at ``/root/reference/markmuse.py:307-383``
(image map), ``:385-460`` (image normalization), ``:528-685`` (page concat +
link rewrite), ``:477-479`` (plain text) — verified by
``tests/test_assembly_parity.py``.

Called once per document from the operators' Arrow passes:
:func:`assemble_one` (plain tail) and :func:`assemble_one_enhanced` (A11
caption-injecting tail) through
:func:`markmuse_spark.kernel.extract.extract_document`, and
:func:`extract_images_one` from the images operator.  All regexes are
compiled once at module load; per-document work is a single scan over the
joined markdown plus one pass over the image list — no quadratic
re-probing, no per-character Python.
"""

from __future__ import annotations

import base64
import re
from typing import Any, Iterable, Optional

_EXT7 = re.compile(r"\.(?:jpg|jpeg|png|gif|webp|bmp|tiff)$", re.IGNORECASE)
_EXT5 = re.compile(r"\.(?:jpg|jpeg|png|gif|webp)$", re.IGNORECASE)
_SANITIZE = re.compile(r"[\\/*?:'\"<>|]")
_IMG_LINK = re.compile(r"!\[([^\]]*)\]\(([^)]+)\)")
_PROBE_EXTS = (".png", ".jpg", ".jpeg", ".gif", ".webp")
_IMG_STRIP = re.compile(r"!\[.*?\]\(.*?\)")

_B64 = base64.b64decode


def _decode_image(b64: str) -> Optional[tuple[str, bytes]]:
    """Data-URI split, whitespace cleanup, decode with padding repair,
    <100-byte rejection.  Returns ``(content_type, data)`` or ``None``."""
    if "," in b64 and ";base64," in b64:
        # content type: text between the first ':' and the next ':' or ';',
        # whichever the reference's split(';')[0].split(':')[1] yields
        # (markmuse.py:407); a header without ':' before the first ';'
        # raises there -> swallowed by the outer handler -> image dropped
        head_parts = b64.split(";", 1)[0].split(":")
        if len(head_parts) < 2:
            return None
        content_type = head_parts[1]
        payload = b64.split(",", 1)[1]
    else:
        content_type = "image/png"
        payload = b64
    # b64decode itself discards ASCII whitespace (and any non-alphabet
    # byte) before decoding, so the reference's explicit cleanup only
    # matters when the fast decode fails: a str holding non-ASCII
    # whitespace (U+00A0 from an unescaped &nbsp;) is rejected outright,
    # and the whitespace-free form must be decoded before the
    # padding-repair branch, exactly as the reference orders them
    try:
        data = _B64(payload)
    except Exception:
        cleaned = "".join(payload.split())
        try:
            data = _B64(cleaned)
        except Exception:
            try:
                data = _B64(cleaned + "=" * (-len(cleaned) % 4))
            except Exception:
                return None
    if len(data) < 100:
        return None
    return content_type, data


def _normalize_image(
    page_no: int, img_idx: int, img: dict[str, Any]
) -> Optional[tuple[str, str, str, bytes]]:
    """The single keep/drop pipeline for one image (default-id scheme,
    base64 decode+repair, <100-byte reject, sanitize, 7-ext normalize) —
    shared by the link-rewrite index AND the images output table so the
    two can never drift apart.  Returns ``(img_id, safe_filename,
    content_type, data)`` or ``None`` when the image is dropped."""
    img_id = img.get("id")
    if img_id is None:
        img_id = f"img-p{page_no}-{img_idx + 1}.png"
    b64 = img.get("image_base64")
    if not b64:
        return None
    try:
        decoded = _decode_image(b64)
    except Exception:
        decoded = None
    if decoded is None:
        return None
    content_type, data = decoded
    safe = _SANITIZE.sub("_", img_id)
    if not _EXT7.search(safe):
        safe += ".png"
    return img_id, safe, content_type, data


def build_image_index(
    pages: Iterable[dict[str, Any]], stem: str
) -> tuple[dict[str, str], list[dict]]:
    """Build the link-target index for one document.

    Unlike the oracle (which stores safe filenames and renders paths at
    rewrite time), the index maps image id -> *final rendered relative path*
    ``{stem}_images/{safe_filename}`` so the rewrite loop is a dict lookup
    plus string concat.  Dual-keys extension-less ids with ``+'.png'``.
    """
    prefix = stem + "_images/"
    index: dict[str, str] = {}
    manifest: list[dict] = []
    for page in pages:
        images = page.get("images")
        if not images:
            continue
        page_no = page["page_idx"] + 1
        for img_idx, img in enumerate(images):
            res = _normalize_image(page_no, img_idx, img)
            if res is None:
                continue
            img_id, safe, content_type, data = res
            target = prefix + safe
            index[img_id] = target
            if not _EXT7.search(img_id):
                index[img_id + ".png"] = target
            manifest.append(
                {
                    "img_id": img_id,
                    "safe_filename": safe,
                    "content_type": content_type,
                    "n_bytes": len(data),
                }
            )
    return index, manifest


def rewrite_document(markdown: str, index: dict[str, str]) -> str:
    """Single-pass link rewrite; unmatched refs survive verbatim."""
    if not index and "![" not in markdown:
        return markdown
    get = index.get

    def _sub(m: "re.Match[str]") -> str:
        url = m.group(2)
        img_id = url.rsplit("/", 1)[-1] if "/" in url else url
        target = get(img_id)
        if target is None and not _EXT5.search(img_id):
            for ext in _PROBE_EXTS:
                target = get(img_id + ext)
                if target is not None:
                    break
        if target is None:
            return m.group(0)
        return f"![{m.group(1)}]({target})"

    return _IMG_LINK.sub(_sub, markdown)


def to_plain_text(markdown: str) -> str:
    """Image links stripped, markdown format chars (``#*_`~``) removed.
    One ``str.replace`` per char: each call is one C memchr scan, where a
    dict-table ``str.translate`` loops per character through dict lookups
    (measured 16x slower: 0.54 s vs 0.033 s per 8k docs; ``re.sub`` of
    the class sits between at 0.062 s)."""
    s = _IMG_STRIP.sub("", markdown)
    return (
        s.replace("#", "")
        .replace("*", "")
        .replace("_", "")
        .replace("`", "")
        .replace("~", "")
    )


def derive_stem(url: str) -> str:
    """Output stem per url (markmuse.py:704-720 semantics; see oracle)."""
    seg = url.rsplit("/", 1)[-1]
    if not seg:
        return "pdf_from_url"
    if seg.lower().endswith(".pdf"):
        return seg.replace(".pdf", "")
    return seg


def assemble_one(url: str, pages: list[dict[str, Any]]) -> dict[str, Any]:
    """Assemble one document: returns markdown, extracted_text, manifest."""
    ordered = sorted(pages, key=lambda p: p["page_idx"])
    stem = derive_stem(url)
    index, manifest = build_image_index(ordered, stem)
    joined = "\n\n".join(
        p["markdown"] for p in ordered if p.get("markdown") is not None
    )
    markdown = rewrite_document(joined, index)
    return {
        "url": url,
        "markdown": markdown,
        "extracted_text": to_plain_text(markdown),
        "image_manifest": manifest,
    }


def extract_images_one(url: str, pages: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """The images OUTPUT rows for one document (A8/A14: the reference
    SAVES every kept image under ``{stem}_images/``, ``markmuse.py:436-451``
    — the engine's analog is an images table with the payload as a binary
    column).  Same keep/drop rules as :func:`build_image_index` (default
    ids, base64 repair, <100-byte reject, sanitize, 7-ext normalize)."""
    stem = derive_stem(url)
    rows: list[dict[str, Any]] = []
    for page in sorted(pages, key=lambda p: p["page_idx"]):
        images = page.get("images")
        if not images:
            continue
        page_no = page["page_idx"] + 1
        for img_idx, img in enumerate(images):
            res = _normalize_image(page_no, img_idx, img)
            if res is None:
                continue
            img_id, safe, content_type, data = res
            rows.append(
                {
                    "url": url,
                    "page_idx": page["page_idx"],
                    "img_idx": img_idx,
                    "img_id": img_id,
                    "safe_filename": safe,
                    "rel_path": f"{stem}_images/{safe}",
                    "content_type": content_type,
                    "n_bytes": len(data),
                    "data": data,
                }
            )
    return rows


def assemble_one_enhanced(
    url: str,
    pages: list[dict[str, Any]],
    captions: Optional[dict[str, str]],
) -> dict[str, Any]:
    """Enhanced-mode assembly (A11, ``markmuse.py:569-608``): matched image
    refs with a caption are rewritten IN-PAGE via exact-substring replace
    and get the ``**AI图片分析**`` block appended; everything else —
    unmatched refs AND matched-but-uncaptioned refs — stays verbatim, and
    the non-enhanced global rewrite is skipped (``markmuse.py:664-666``).

    ``captions`` maps primary image id -> description.  The caption source
    is external (the reference calls an LLM per image); this kernel is the
    deterministic tail that consumes it.  Byte-parity vs
    ``golden.oracle.assemble_document_enhanced`` is pinned in tests.
    """
    ordered = sorted(pages, key=lambda p: p["page_idx"])
    stem = derive_stem(url)
    index, manifest = build_image_index(ordered, stem)
    desc = captions or {}
    # probe-key -> (target, description); dual keys share the primary id's
    # description exactly like the reference's shared info dict
    enhanced: dict[str, tuple[str, Optional[str]]] = {}
    prefix = stem + "_images/"
    for m in manifest:
        img_id, safe = m["img_id"], m["safe_filename"]
        d = desc.get(img_id)
        enhanced[img_id] = (prefix + safe, d)
        if not _EXT7.search(img_id):
            enhanced[img_id + ".png"] = (prefix + safe, d)

    n_enhanced = 0
    out_pages: list[str] = []
    for page in ordered:
        md = page.get("markdown")
        if md is None:
            continue
        if "![" in md:
            for alt, img_url in _IMG_LINK.findall(md):
                img_id = img_url.rsplit("/", 1)[-1] if "/" in img_url else img_url
                info = enhanced.get(img_id)
                if info is None and not _EXT5.search(img_id):
                    for ext in _PROBE_EXTS:
                        info = enhanced.get(img_id + ext)
                        if info is not None:
                            break
                if info is None or info[1] is None:
                    continue
                target, description = info
                old_ref = f"![{alt}]({img_url})"
                new_ref = f"![{alt}]({target})\n\n**AI图片分析**：{description}\n"
                n_enhanced += md.count(old_ref)
                md = md.replace(old_ref, new_ref)
        out_pages.append(md)
    markdown = "\n\n".join(out_pages)
    return {
        "url": url,
        "markdown": markdown,
        "extracted_text": to_plain_text(markdown),
        "image_manifest": manifest,
        "n_enhanced": n_enhanced,
    }
