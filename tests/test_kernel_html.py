"""HTML layout kernel vs the document-model spec.

The generator (markmuse_spark.sources.docmodel) renders a seeded block model
to noisy Common-Crawl-style HTML; the kernel must recover exactly the
expected page markdown + inline-image list — the stand-in for the OCR page
shape the reference consumes (markmuse.py:563-565, :347-352).
"""

from __future__ import annotations

import random

import pytest

from markmuse_spark.kernel import html_extract
from markmuse_spark.sources import docmodel


def _roundtrip(seed: int, lang: str = "en", truncate: int | None = None):
    rng = random.Random(seed)
    blocks = docmodel.random_page_blocks(rng, lang)
    html = docmodel.render_html(blocks, rng, truncate_after=truncate)
    want = docmodel.expected_page(blocks, 0, upto=truncate)
    got = html_extract.extract_pages(html)
    assert len(got) == 1
    return want, got[0], html


@pytest.mark.parametrize("lang", sorted(docmodel._WORDS_BY_LANG))
def test_roundtrip_languages(lang):
    for seed in range(20):
        want, got, html = _roundtrip(1000 + seed, lang)
        assert got["markdown"] == want["markdown"], (lang, seed, html[:400])
        assert got["images"] == want["images"], (lang, seed)


def test_roundtrip_corpus():
    for seed in range(200):
        want, got, html = _roundtrip(seed)
        assert got["markdown"] == want["markdown"], (seed, html.decode()[:500])
        assert got["images"] == want["images"], seed


def test_truncated_payload():
    for seed in range(30):
        rng = random.Random(seed)
        blocks = docmodel.random_page_blocks(rng, "en")
        cut = max(1, len(blocks) // 2)
        want, got, _ = _roundtrip(seed, truncate=cut)
        assert got["markdown"] == want["markdown"], seed


def test_empty_payload_raises():
    with pytest.raises(ValueError):
        html_extract.extract_pages(b"")


def test_batch_error_capture():
    """Per-row error capture at the document entry point: a bad payload
    becomes an ``error`` string on its own row, never an exception."""
    from markmuse_spark.kernel.extract import extract_document

    rng = random.Random(3)
    blocks = docmodel.random_page_blocks(rng, "en")
    ok_html = docmodel.render_html(blocks, rng)
    results = [
        extract_document(f"https://x.example/{i}.html", payload)
        for i, payload in enumerate(
            [ok_html, b"", b"\xff\xfe garbage <p>x</p>"]
        )
    ]
    assert results[0]["error"] is None and results[0]["markdown"] is not None
    assert results[1]["markdown"] is None
    assert results[1]["error"] == "ValueError: empty payload"
    # undecodable-as-utf8 falls back to latin-1 and still parses
    assert results[2]["error"] is None
    assert results[2]["markdown"].endswith("x")


def test_boilerplate_stripped():
    html = (
        b"<html><head><title>T</title></head><body>"
        b"<header><div class='logo'>LOGO</div></header>"
        b"<nav><ul class='menu'><li>Home</li></ul></nav>"
        b"<div class='ad-banner'>BUY <div>nested leak?</div> NOW</div>"
        b"<article><h1>Real Title</h1><p>Real body.</p></article>"
        b"<aside class='related'><p>junk</p></aside>"
        b"<footer>(c) junk</footer></body></html>"
    )
    page = html_extract.extract_pages(html)[0]
    assert page["markdown"] == "# Real Title\n\nReal body."


def test_entities_and_inline_marks():
    html = (
        b"<body><article><p>a &amp; b &lt;tag&gt; <strong>bold</strong> "
        b"<em>it</em> <code>c()</code>&nbsp;end</p></article></body>"
    )
    page = html_extract.extract_pages(html)[0]
    assert page["markdown"] == "a & b <tag> **bold** *it* `c()` end"


def test_data_uri_image_lifted():
    import base64

    b64 = base64.b64encode(b"\x89PNG" + bytes(150)).decode()
    html = (
        "<body><article><p>before</p>"
        f'<img src="data:image/png;base64,{b64}" alt="a chart">'
        '<img src="https://cdn.example/x.jpg" alt="ext">'
        "<p>after</p></article></body>"
    ).encode()
    page = html_extract.extract_pages(html)[0]
    assert page["markdown"] == (
        "before\n\n![a chart](img-p1-1.png)\n\n![ext](https://cdn.example/x.jpg)\n\nafter"
    )
    assert page["images"] == [
        {"id": "img-p1-1.png", "image_base64": "data:image/png;base64," + b64}
    ]


def test_unclosed_tags_tolerated():
    html = b"<body><article><p>one<p>two<ul><li>a<li>b</ul><h2>head"
    page = html_extract.extract_pages(html)[0]
    assert page["markdown"] == "one\n\ntwo\n\n- a\n- b\n\n## head"


def test_unterminated_list_keeps_rendered_lines():
    """Truncated payload cut before </ul>: already-rendered items survive."""
    from markmuse_spark.kernel import html_extract

    md = html_extract.extract_pages(
        b"<html><body><ul><li>alpha</li><li>beta</li>"
    )[0]["markdown"]
    assert "- alpha" in md and "- beta" in md


def test_figure_figcaption_becomes_caption_block():
    """<figure>/<figcaption> (corpus v4): the image renders as usual and
    the caption becomes its OWN markdown block right after it."""
    from markmuse_spark.kernel import html_extract

    html = (
        b"<html><body><article><p>before</p>"
        b'<figure> <img src="https://cdn.example/x.jpg" alt="pic">\n'
        b"<figcaption>the caption text</figcaption> </figure>"
        b"<p>after</p></article></body></html>"
    )
    md = html_extract.extract_pages(html)[0]["markdown"]
    assert md == (
        "before\n\n![pic](https://cdn.example/x.jpg)\n\nthe caption text\n\nafter"
    )


def test_tokenizer_name_capture_parity():
    """Round-8 optimization contract: the tokenizer's in-pass tag-name
    group must agree with the standalone _TAG_NAME match on every token,
    and the token stream itself must be unchanged by the added groups —
    across comments, doctypes, nameless tags, self-closing tags,
    attributes, and truncated trailing markup."""
    import re

    from markmuse_spark.kernel import html_extract as H

    # the pre-round-8 tokenizer (no name group), for stream parity
    old = re.compile(
        r"<!--.*?(?:-->|$)|<!\[[^\]]*\]>|<![^>]*>|<[^>]*>|[^<]+", re.DOTALL
    )
    cases = [
        "<p>a</p><div class='x'>b</div><br/><img src=u alt='t'>",
        "<!-- c --><!DOCTYPE html><![CDATA[x]]><UL><LI>i</LI></UL>",
        "<>< 3 ><a<b>text<unclosed",
        "plain text only",
        "<table><tr><td>1</td><TD>2</TD></tr></table>",
        "< p >spaced</ p ><h2 id=x>H</h2>&amp;",
        "",
    ]
    for s in cases:
        new = H._TOKEN.findall(s)
        assert [t for t, _n in new] == old.findall(s), s
        for tok, name in new:
            if tok and tok[0] == "<" and len(tok) >= 3 and tok[1] != "!":
                m = H._TAG_NAME.match(tok)
                assert name == (m.group(1) if m else ""), (s, tok)
            else:
                assert name == "", (s, tok)


def test_tag_dispatch_precedence_edges():
    """Round-8: the dispatch-table rewrite must preserve the old
    sequential chain's precedence on every folded-together edge:
    tr/td/th OUTSIDE a table act as paragraph boundaries, thead outside
    a table does nothing, body/html flush on open AND close, hr touches
    no buffer, closing </pre> outside pre mode does nothing, and an
    unbalanced closing skip-element is ignored."""
    ep = html_extract.extract_pages

    def md(html: str) -> str:
        return ep(html.encode())[0]["markdown"]

    # td outside a table is a block boundary (old chain: block-element tail)
    assert md("<p>a<td>b</p>") == "a\n\nb"
    assert md("<p>a<tr>b</p>") == "a\n\nb"
    # thead outside a table: no action, text concatenates in-block
    assert md("<p>a<thead>b</p>") == "ab"
    # body/html flush on open and close
    assert md("a<body>b</body>c</html>") == "a\n\nb\n\nc"
    # hr: no buffer append (no stray space), still same block
    assert md("<p>a<hr>b</p>") == "ab"
    # br appends exactly one space
    assert md("<p>a<br>b</p>") == "a b"
    # closing </pre> with no open pre: ignored entirely
    assert md("<p>a</pre>b</p>") == "ab"
    # unbalanced closing skip element: ignored
    assert md("<p>a</nav>b</p>") == "ab"
    # li outside any list: the tag is ignored (no marker minted), its
    # text still flows as plain paragraph text
    assert md("<li>solo</li>") == "solo"
    # boilerplate-classed ul is skipped wholesale; plain ul renders
    assert md('<ul class="nav"><li>x</li></ul><ul><li>y</li></ul>') == "- y"
    # table cells keep inline marks; nested list inside a cell stays cell text
    assert md("<table><tr><td><b>x</b></td><td>y</td></tr></table>") == (
        "| **x** | y |\n| --- | --- |"
    )


def test_tokenizer_possessive_reorder_parity():
    """Round-8 second pass: the named-tag-first + possessive-quantifier
    tokenizer must produce the identical (token, name) stream as the
    backtracking original on adversarial markup.  The `<!`-prefixed
    alternatives are prefix-disjoint from `</?\\s*[a-zA-Z]`, so moving the
    named-tag branch first can never change which alternative wins; every
    possessive star is followed by a character its class excludes, so no
    successful backtrack exists to lose."""
    import random
    import re

    from markmuse_spark.kernel import html_extract as H

    old = re.compile(
        r"(<!--.*?(?:-->|$)|<!\[[^\]]*\]>|<![^>]*>"
        r"|</?\s*([a-zA-Z][a-zA-Z0-9]*)[^>]*>|<[^>]*>|[^<]+)",
        re.DOTALL,
    )
    cases = [
        "<p>a</p><div class='x'>b</div><br/><img src=u alt='t'>",
        "<!-- c --><!DOCTYPE html><![CDATA[x]]><UL><LI>i</LI></UL>",
        "<>< 3 ><a<b>text<unclosed", "plain", "",
        "<!--unterminated", "<![unterminated", "<!unterminated",
        "</ p ></><//><!>",
        "<!--a>b--><!x><![y]>",
    ]
    rng = random.Random(20260822)
    alpha = list("<>!/-[]ab3 \n\"'=&;pA")
    for _ in range(4000):
        cases.append("".join(rng.choice(alpha)
                             for _ in range(rng.randrange(0, 80))))
    for s in cases:
        assert H._TOKEN.findall(s) == old.findall(s), repr(s[:80])


def test_tokenizer_boilerplate_soup_pinned_output():
    """Pinned extract_pages output over boilerplate-heavy markup: nesting,
    stray closes, comments hiding closers, mixed case, <pre> and skip-mode
    interactions, unterminated subtrees, and 3,000 seeded cases of random
    boilerplate soup (digest of the repr of every non-empty case's page
    list)."""
    import hashlib
    import random

    from markmuse_spark.kernel import html_extract as H

    cases = [
        ("<head><title>T</title><style>a<b{}</style></head><p>x</p>", "x"),
        ("<nav><ul><li>a</li></ul></nav>text", "text"),
        ("<nav>a<nav>inner</nav>b</nav>tail", "tail"),     # nested same-name
        ("<header><div><span>x</header>y", "y"),           # unclosed inners
        ("<nav>a<!-- </nav> -->b</nav>c", "c"),            # close in comment
        ("<nav>a<!--unterminated </nav>c", ""),            # comment to EOS
        ("<NAV>upper</NAV>z", "z"),                        # case forms
        ("<nav>mixed</NaV>q</nav>w", "qw"),
        ("<form/>not-a-subtree<p>k</p>", "not-a-subtree\n\nk"),  # self-closing
        ("<footer>never closed", ""),                      # unterminated
        ("<pre>a<nav>b</nav>c</pre>", "```\nabc\n```"),    # nav in pre
        ("<div class='sidebar'><nav>x</nav></div><p>m</p>", "m"),  # in skip
        ("<script>s</script><nav>a</nav>", ""),
        ("<aside>a<script>x</script>b</aside>c", "c"),     # skip inside skip
        ("<nav>a</script>b</nav>c", "c"),                  # stray skip close
        ("<nav>< 5;</nav>done", ""),                       # bare < in nav
        ("<headx>not-swallow</headx>p", "not-swallowp"),
    ]
    for html, want in cases:
        assert H.extract_pages(html.encode()) == [
            {"page_idx": 0, "markdown": want, "images": []}
        ], html

    rng = random.Random(8)
    frags = ["<nav>", "</nav>", "<head>", "</head>", "<form>", "</form>",
             "<p>", "</p>", "<pre>", "</pre>", "<script>", "</script>",
             "<div class='menu'>", "</div>", "text", "<!--", "-->", "<",
             ">", "x", " ", "<br/>", "<aside >", "</ aside>", "<NAV>",
             "</NAV>"]
    digest = hashlib.sha256()
    n = 0
    for _ in range(3000):
        s = "".join(rng.choice(frags) for _ in range(rng.randrange(0, 25)))
        if not s:
            continue  # empty payload raises (test_empty_payload_raises)
        n += 1
        digest.update(repr(H.extract_pages(s.encode())).encode())
    assert n == 2878
    assert digest.hexdigest() == (
        "a33419bb31ab8b039514d7559322aff8dab3634aac216082e7e849345e080227"
    )
