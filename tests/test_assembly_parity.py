"""Byte-parity: production assembly kernel vs the golden oracle.

The oracle (markmuse_spark.golden.oracle) transcribes the reference tail
semantics (markmuse.py:307-685); the kernel (markmuse_spark.kernel.
markdown_assembly) is an independent implementation.  Every document —
hand-built edge cases and 300 seeded random ones — must match byte-for-byte.
"""

from __future__ import annotations

import base64

import pytest

from markmuse_spark.golden import fixtures, oracle
from markmuse_spark.kernel import markdown_assembly as kernel


def _assert_doc_parity(doc):
    want = oracle.assemble_document(doc["url"], doc["pages"])
    got = kernel.assemble_one(doc["url"], doc["pages"])
    assert got["markdown"] == want["markdown"], doc["url"]
    assert got["extracted_text"] == want["extracted_text"], doc["url"]
    assert got["image_manifest"] == want["image_manifest"], doc["url"]


@pytest.mark.parametrize(
    "doc", fixtures.edge_case_documents(), ids=lambda d: d["url"].rsplit("/", 2)[-2]
)
def test_edge_cases(doc):
    _assert_doc_parity(doc)


def test_random_corpus():
    for doc in fixtures.random_documents(300, seed=42):
        _assert_doc_parity(doc)


# --- targeted pins for the nastiest rules -------------------------------

_OK = base64.b64encode(bytes(range(120))).decode()


def _one(md, images, url="https://x.example/a/doc.pdf"):
    pages = [{"page_idx": 0, "markdown": md, "images": images}]
    return (
        oracle.assemble_document(url, pages)["markdown"],
        kernel.assemble_one(url, pages)["markdown"],
    )


def test_dual_key_extensionless_id():
    # id without extension stored under both 'fig' and 'fig.png'
    want, got = _one("![a](fig)\n\n![b](fig.png)", [{"id": "fig", "image_base64": _OK}])
    assert want == got == "![a](doc_images/fig.png)\n\n![b](doc_images/fig.png)"


def test_probe_fallback_order():
    # ref 'c' (no ext) probes .png,.jpg,... in order; only c.jpg exists
    want, got = _one("![x](c)", [{"id": "c.jpg", "image_base64": _OK}])
    assert want == got == "![x](doc_images/c.jpg)"


def test_no_probe_for_5ext_ids():
    # 'c.gif' matches the 5-ext list -> direct probe only, no fallback
    want, got = _one("![x](c.gif)", [{"id": "c.gif.png", "image_base64": _OK}])
    assert want == got == "![x](c.gif)"  # unmatched, verbatim


def test_bmp_in_7list_not_in_5list():
    # id 'p.bmp' matches 7-list (no dual key). ref 'p' probes 5 exts -> miss.
    want, got = _one(
        "![x](p)\n\n![y](p.bmp)", [{"id": "p.bmp", "image_base64": _OK}]
    )
    assert want == got == "![x](p)\n\n![y](doc_images/p.bmp)"


def test_sanitize_and_rendered_path():
    want, got = _one("![x](a?b.png)", [{"id": "a?b.png", "image_base64": _OK}])
    assert want == got == "![x](doc_images/a_b.png)"


def test_padding_repair_and_reject():
    unpadded = _OK.rstrip("=")
    small = base64.b64encode(b"x" * 50).decode()
    want, got = _one(
        "![a](u.png)\n\n![b](s.png)",
        [
            {"id": "u.png", "image_base64": unpadded},
            {"id": "s.png", "image_base64": small},
        ],
    )
    assert want == got == "![a](doc_images/u.png)\n\n![b](s.png)"


def test_non_ascii_whitespace_in_payload():
    # U+00A0 (an unescaped &nbsp;) makes b64decode reject the str; the
    # whitespace-free payload still decodes, padded or not, and a
    # non-ASCII non-space character still drops the image
    nbsp = _OK[:40] + " " + _OK[40:]
    unpadded = nbsp.rstrip("=") + " \n"
    alien = _OK[:40] + "é" + _OK[40:]
    pages = [
        {
            "page_idx": 0,
            "markdown": "![a](n.png)\n\n![b](u.png)\n\n![c](e.png)",
            "images": [
                {"id": "n.png", "image_base64": nbsp},
                {"id": "u.png", "image_base64": "data:image/gif;base64," + unpadded},
                {"id": "e.png", "image_base64": alien},
            ],
        }
    ]
    want = oracle.assemble_document("https://x.example/a/doc.pdf", pages)
    got = kernel.assemble_one("https://x.example/a/doc.pdf", pages)
    assert got == want
    assert got["markdown"] == (
        "![a](doc_images/n.png)\n\n![b](doc_images/u.png)\n\n![c](e.png)"
    )
    assert [m["n_bytes"] for m in got["image_manifest"]] == [120, 120]


def test_data_uri_content_type_and_manifest():
    pages = [
        {
            "page_idx": 0,
            "markdown": "![a](j.bin)",
            "images": [
                {"id": "j.bin", "image_base64": "data:image/jpeg;base64," + _OK}
            ],
        }
    ]
    want = oracle.assemble_document("https://x.example/a/b", pages)
    got = kernel.assemble_one("https://x.example/a/b", pages)
    assert want["image_manifest"] == got["image_manifest"]
    m = got["image_manifest"][0]
    # '.bin' not in the 7-ext list -> '.png' appended to the safe filename
    assert m == {
        "img_id": "j.bin",
        "safe_filename": "j.bin.png",
        "content_type": "image/jpeg",
        "n_bytes": 120,
    }


def test_multi_colon_data_uri():
    # split(':')[1] takes text between 1st and 2nd colon (markmuse.py:407)
    pages = [
        {
            "page_idx": 0,
            "markdown": "x",
            "images": [{"id": "m.png", "image_base64": "a:b:c;base64," + _OK}],
        }
    ]
    want = oracle.assemble_document("https://x.example/u/v", pages)
    got = kernel.assemble_one("https://x.example/u/v", pages)
    assert want["image_manifest"] == got["image_manifest"]
    assert got["image_manifest"][0]["content_type"] == "b"


def test_null_markdown_page_skipped():
    pages = [
        {"page_idx": 0, "markdown": "a", "images": []},
        {"page_idx": 1, "markdown": None, "images": []},
        {"page_idx": 2, "markdown": "b", "images": []},
    ]
    want = oracle.assemble_document("https://x.example/u/v", pages)
    got = kernel.assemble_one("https://x.example/u/v", pages)
    assert want["markdown"] == got["markdown"] == "a\n\nb"


def test_stem_derivation():
    for url, stem in [
        ("https://a.example/x/report.pdf", "report"),
        ("https://a.example/x/report.PDF", "report.PDF"),  # bug-compat
        ("https://a.example/x/a.pdf.pdf", "a"),  # replace-all bug-compat
        ("https://a.example/x/page", "page"),  # divergence: passthrough
        ("https://a.example/x/", "pdf_from_url"),
    ]:
        assert oracle.output_stem(url) == stem == kernel.derive_stem(url)


def test_extracted_text_projection():
    md = "# Head *bold* `code`\n\n![alt](img.png) tail_~x"
    assert (
        oracle.plain_text(md)
        == kernel.to_plain_text(md)
        == " Head bold code\n\n tailx"
    )


def test_enhanced_mode_parity_and_semantics():
    """A11: kernel assemble_one_enhanced is byte-identical to the enhanced
    oracle over seeded page models, and the reference's enhanced-mode
    quirks hold: uncaptioned-but-matched refs stay VERBATIM (no path
    rewrite), unmatched refs stay verbatim, captioned refs gain the
    AI-analysis block with the relative path."""
    import random

    from markmuse_spark.golden import oracle
    from markmuse_spark.kernel import markdown_assembly as ka
    from markmuse_spark.sources import docmodel

    n_docs = n_enh_total = 0
    for i in range(120):
        rng = random.Random(f"enh:{i}")
        lang = ["en", "zh", "de", "fr", "es"][i % 5]
        blocks = docmodel.random_page_blocks(rng, lang)
        page = docmodel.expected_page(blocks, 0)
        url = f"https://site.example/docs/enh-{i:04d}"
        # caption only the EVEN-indexed ids so both branches are exercised
        captions = {
            img["id"]: f"cap {img['id']}"
            for k, img in enumerate(page["images"])
            if k % 2 == 0 and img["id"]
        }
        got = ka.assemble_one_enhanced(url, [page], captions)
        want = oracle.assemble_document_enhanced(url, [page], captions)
        assert got["markdown"] == want["markdown"], url
        assert got["n_enhanced"] == want["n_enhanced"], url
        assert got["extracted_text"] == want["extracted_text"], url
        n_docs += 1
        n_enh_total += got["n_enhanced"]
        if got["n_enhanced"]:
            assert "**AI图片分析**：" in got["markdown"]
        # every uncaptioned inline image keeps its ORIGINAL id reference
        kept = [
            img["id"]
            for k, img in enumerate(page["images"])
            if k % 2 == 1 and img["id"] not in captions
        ]
        for img_id in kept:
            # the ref may legitimately be absent if its base64 was rejected
            # (<100B) AND captioned duplicates replaced an identical ref —
            # but a rewritten path for it must never appear
            assert f"]({url.rsplit('/', 1)[-1]}_images/{img_id}" not in got[
                "markdown"
            ] or img_id in captions
    assert n_enh_total > 0, "fixture universe produced no enhanced refs"
