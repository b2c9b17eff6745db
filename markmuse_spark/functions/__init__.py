"""Scalar function library: the reference's byte-parity-critical pure
functions (SURVEY §2.C) as reusable Spark column functions.

These are the JVM-side (codegen'd) forms used by relational queries; the
extraction kernel keeps its own Python implementations because byte parity
of the full tail requires the exact probe orders of
:mod:`markmuse_spark.kernel.markdown_assembly` — both are pinned to the
same semantics by tests.

Each function cites the reference rule it reproduces
(paths into /root/reference/).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "strip_image_links",
    "strip_markdown_format",
    "plain_text",
    "sanitize_filename",
    "has_image_extension",
    "url_to_image_id",
    "default_image_id",
    "output_stem",
    "content_type_for_extension",
    "canonical_url",
    "mask_pii",
    "image_type_class",
    "json_roundtrip",
    "mask_url_password",
    "template_variables",
    "render_template",
]

#: s3_storage.py:377-393 — extension -> MIME
CONTENT_TYPES = {
    ".jpg": "image/jpeg", ".jpeg": "image/jpeg", ".png": "image/png",
    ".gif": "image/gif", ".webp": "image/webp", ".bmp": "image/bmp",
    ".tiff": "image/tiff", ".tif": "image/tiff", ".md": "text/markdown",
    ".html": "text/html", ".txt": "text/plain", ".pdf": "application/pdf",
    ".json": "application/json", ".js": "application/javascript",
    ".css": "text/css",
}


def _c(c) -> Column:
    """Accept either a column name or a Column (like pyspark builtins)."""
    return F.col(c) if isinstance(c, str) else c


def strip_image_links(c: Column) -> Column:
    """C2 — ``re.sub(r'!\\[.*?\\]\\(.*?\\)', '', s)`` (markmuse.py:477)."""
    return F.regexp_replace(c, r"!\[.*?\]\(.*?\)", "")


def strip_markdown_format(c: Column) -> Column:
    """C3 — ``re.sub(r'[#*_`~]', '', s)`` (markmuse.py:479)."""
    return F.regexp_replace(c, r"[#*_`~]", "")


def plain_text(c: Column) -> Column:
    """C2+C3 composition — the ``extracted_text`` projection."""
    return strip_markdown_format(strip_image_links(c))


def sanitize_filename(c: Column) -> Column:
    """C4 — ``re.sub(r"[\\\\/*?:'\\"<>|]", '_', s)`` (markmuse.py:393)."""
    return F.regexp_replace(c, r"""[\\/*?:'"<>|]""", "_")


def has_image_extension(c: Column, probe_list: bool = False) -> Column:
    """C5 — the 7-ext normalization test (markmuse.py:396) or, with
    ``probe_list=True``, the shorter 5-ext probe test (markmuse.py:584)."""
    exts = "jpg|jpeg|png|gif|webp" if probe_list else "jpg|jpeg|png|gif|webp|bmp|tiff"
    return F.lower(_c(c)).rlike(rf"\.({exts})$")


def url_to_image_id(c: Column) -> Column:
    """C9 — ``url.split('/')[-1]`` (markmuse.py:573-577)."""
    return F.element_at(F.split(c, "/"), -1)


def default_image_id(page_idx: Column, img_idx: Column) -> Column:
    """C8 — ``f"img-p{page+1}-{img+1}.png"`` (markmuse.py:390)."""
    return F.format_string("img-p%d-%d.png", _c(page_idx) + 1, _c(img_idx) + 1)


def output_stem(url: Column) -> Column:
    """C12 — stem derivation (markmuse.py:704-720), bug-compatible
    all-occurrence ``.pdf`` replace; non-pdf segments pass through (see
    kernel docstring for the documented divergence)."""
    seg = F.element_at(F.split(url, "/"), -1)
    return (
        F.when(seg == "", "pdf_from_url")
        .when(F.lower(seg).endswith(".pdf"), F.regexp_replace(seg, r"\.pdf", ""))
        .otherwise(seg)
    )


def content_type_for_extension(ext: Column) -> Column:
    """C13 — 15-entry extension->MIME map with octet-stream default
    (s3_storage.py:375-395)."""
    expr: Column = F.lit("application/octet-stream")
    for k, v in reversed(list(CONTENT_TYPES.items())):
        expr = F.when(F.lower(_c(ext)) == k, v).otherwise(expr)
    return expr


#: query parameters that never affect page identity (the standard
#: web-corpus canonicalization list: analytics/click-tracking keys).
#: Bare ``ref`` is deliberately NOT in the default list: many sites use
#: it functionally (content/branch/page selectors), and stripping it
#: would merge genuinely distinct pages before dedup — pass a custom
#: ``tracked_params`` alternation to :func:`canonical_url` to tune the
#: list per corpus.
TRACKING_PARAMS = r"utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref_src"


def canonical_url(url: Column, tracked_params: str = TRACKING_PARAMS) -> Column:
    """Beyond-survey web-corpus op: URL canonicalization — the standard
    pre-dedup normalization (two crawls of one page differ only by
    tracking params/fragment/case/default port far more often than by
    content).  Feed the result to :func:`~markmuse_spark.operators.dedup.
    exact_duplicates` keyed on the canonical url, or group by it before
    text-level dedup.

    Rules (each a single JVM regex pass, whole column codegen'd):

    1. drop the fragment (``#...`` never reaches the server)
    2. lowercase the scheme and authority (host names are
       case-insensitive; paths are NOT touched)
    3. strip a leading ``www.``
    4. strip default ports (``:80`` for http, ``:443`` for https)
    5. remove tracking query params (``tracked_params``, default
       :data:`TRACKING_PARAMS`) — applied ONLY to the query substring
       (text after the first ``?``), never the path: a literal ``&`` in
       a path segment must not trigger stripping.  One pass with a
       lookbehind so adjacent tracked params both match — then a
       dangling ``?``/``&``
    6. strip a bare trailing slash (``https://h/a/`` == ``https://h/a``;
       the root form ``https://h/`` also folds to ``https://h``)

    Keep each intermediate referenced once where possible: a column used
    twice is inlined twice into the expression tree, and every inferred
    ``isnotnull(canon_url)`` join filter evaluates the whole tree again.
    Splits are regex passes for that reason, not ``substr``/``instr``
    over a shared prefix; the tree has 19 regex calls.
    """
    u = F.regexp_replace(_c(url), r"#.*$", "")  # 1
    head_re = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
    head = F.lower(F.regexp_extract(u, "(" + head_re + ")", 1))  # 2
    head = F.regexp_replace(head, r"^([a-z][a-z0-9+.-]*://)www\.", "$1")  # 3
    head = F.regexp_replace(head, r"^(http://[^/:]*):80$", "$1")  # 4
    head = F.regexp_replace(head, r"^(https://[^/:]*):443$", "$1")
    u = F.concat(head, F.regexp_replace(u, head_re, ""))
    # 5: isolate the query substring (from the FIRST '?') so the
    # tracked-param pass cannot touch the path — a raw '&' in a path
    # segment with no '?' before it would otherwise match the
    # lookbehind and amputate the url at the fake "param"
    path_part = F.regexp_replace(u, r"(?s)\?.*$", "")
    qstr = F.regexp_extract(u, r"(?s)(\?.*)$", 1)
    qstr = F.regexp_replace(  # lookbehind keeps adjacent params matchable
        qstr, r"(?<=[?&])(" + tracked_params + r")=[^&]*(&|$)", ""
    )
    u = F.concat(path_part, qstr)
    u = F.regexp_replace(u, r"[?&]+$", "")
    u = F.regexp_replace(u, r"(?<!/)/$", "")  # 6
    return u


# PII patterns (ASCII classes only — Java and Python regex agree on
# every construct used: explicit [0-9] instead of \d, width-1
# lookarounds, no \b).  Order of application matters and is fixed in
# mask_pii; each replacement token is letters-only so later passes can
# never re-match inside one.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
PII_IPV4 = (
    r"(?<![0-9.])" + _OCTET + r"\." + _OCTET + r"\." + _OCTET + r"\."
    + _OCTET + r"(?![0-9.])"
)
PII_SSN = r"(?<![0-9-])[0-9]{3}-[0-9]{2}-[0-9]{4}(?![0-9-])"
PII_CC = r"(?<![0-9-])[0-9]{4}(?:-?[0-9]{4}){3}(?![0-9-])"
PII_PHONE = (
    r"(?<![0-9A-Za-z.+-])"
    r"(?:\+[0-9]{8,15}"  # solid E.164 form
    r"|(?:\+[0-9]{1,3}[-.])?(?:\([0-9]{2,4}\)[-.]?|[0-9]{2,4}[-.])"
    r"[0-9]{2,4}(?:[-.][0-9]{2,4}){1,3})"  # separated groups
    r"(?![0-9A-Za-z])"
)


def mask_pii(text: Column) -> Column:
    """Beyond-survey corpus-curation op: PII masking — replace emails,
    IPv4 addresses, SSN-shaped ids, 16-digit card numbers, and phone
    numbers with typed tokens (``<EMAIL>`` ``<IP>`` ``<ID>`` ``<CC>``
    ``<PHONE>``) before a corpus ships to training.  Five whole-column
    JVM regex passes, codegen'd end to end — at 100 TB this runs inside
    the same stage as the quality/lang filters, no extra shuffle.

    Deterministic by design (no NER model): the rule set is the
    regex-tier pass every large pipeline runs FIRST, with the usual
    documented trade-offs — IPv4 octets are range-validated but
    version-string lookalikes (``1.2.3.4``) still mask; card numbers
    are shape-checked (16 digits, solid or 4-4-4-4), not
    Luhn-validated; phone matching requires a ``+`` prefix or grouped
    separators (``-`` ``.`` ``()``) so bare digit runs and
    space-separated year lists never mask.  Order is fixed: email ->
    IPv4 -> SSN -> card -> phone (cards must outrank phones on 13-16
    solid digits; IPs must be gone before dotted phone groups run)."""
    t = _c(text)
    t = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    t = F.regexp_replace(t, PII_IPV4, "<IP>")
    t = F.regexp_replace(t, PII_SSN, "<ID>")
    t = F.regexp_replace(t, PII_CC, "<CC>")
    t = F.regexp_replace(t, PII_PHONE, "<PHONE>")
    return t


def image_type_class(img_id: Column) -> Column:
    """C15 — id-substring image classification (markmuse.py:165-173)."""
    c = _c(img_id)
    return (
        F.when(c.contains("_chart_") | c.contains("_graph_"), "chart")
        .when(c.contains("_diagram_") | c.contains("_flow_"), "diagram")
        .when(
            c.contains("_doc_") | c.contains("_table_") | c.contains("_form_"),
            "document",
        )
        .otherwise("general")
    )


def json_roundtrip(c: Column, schema: str) -> Column:
    """C16 — JSON (de)serialization (redis client.py:137-170 analog)."""
    return F.from_json(c, schema)


def mask_url_password(url: Column) -> Column:
    """C17 — connection-URL password mask (redis client.py:76-95).

    Bug-compatible transcription of the reference's split logic: the
    credential part is everything before the FIRST '@'; with >= 3
    colon-separated pieces the third-and-later pieces (the password) become
    '***'; with exactly 2 the second does; text after a SECOND '@' is
    dropped (the reference rejoins only parts[1])."""
    c = _c(url)
    at = F.split(c, "@")
    proto_auth = F.element_at(at, 1)
    host = F.element_at(at, 2)
    pp = F.split(proto_auth, ":")
    masked = (
        F.when(
            F.size(pp) >= 3,
            F.concat(
                F.element_at(pp, 1), F.lit(":"), F.element_at(pp, 2),
                F.lit(":***@"), host,
            ),
        )
        .when(F.size(pp) == 2, F.concat(F.element_at(pp, 1), F.lit(":***@"), host))
        .otherwise(c)
    )
    return F.when(F.size(at) >= 2, masked).otherwise(c)


_TEMPLATE_VAR = r"\{\{\s*(\w+)\s*\}\}"


def template_variables(template: Column) -> Column:
    """C18a — template variable extraction (jinja_prompt.py:50-68's regex
    fallback, which for the ``{{ var }}``-only dialect equals the AST
    walk): sorted distinct variable names, JVM-side."""
    return F.array_sort(
        F.array_distinct(F.regexp_extract_all(_c(template), F.lit(_TEMPLATE_VAR), 1))
    )


def render_template(
    template: Column, params: Column, on_undefined: str = "error"
) -> Column:
    """C18b — strict-undefined template render (jinja_prompt.py:35
    StrictUndefined semantics) for the ``{{ var }}`` dialect.

    ``on_undefined='error'`` (default, reference parity): a missing/null
    variable raises and FAILS THE JOB — StrictUndefined is a contract
    violation, not a data condition.  For per-row tolerance in a large
    pipeline (the engine's A19 convention) pass ``on_undefined='null'``:
    affected rows render to NULL instead.

    A scalar Python UDF (string assembly with per-row dict lookups is
    not expressible as a JVM column over a dynamic map), and the one
    ``pandas_udf`` in the package, which every other Python pass runs
    as ``mapInArrow``: this is a public ``Column`` function, and
    ``mapInArrow`` returns a DataFrame, not a Column.  The Arrow-native
    scalar form, ``arrow_udf``, needs pyspark 4.1 and the package
    declares ``pyspark>=3.5``."""
    import re as _re

    import pandas as pd

    if on_undefined not in ("error", "null"):
        raise ValueError("on_undefined must be 'error' or 'null'")
    pat = _re.compile(_TEMPLATE_VAR)
    strict = on_undefined == "error"

    def _render(tpls, maps):
        out = []
        for t, m in zip(tpls, maps):
            if t is None:
                out.append(None)
                continue
            params_d = m or {}

            def _sub(match):
                name = match.group(1)
                if name not in params_d or params_d[name] is None:
                    raise ValueError(f"undefined template variable {name!r}")
                return str(params_d[name])

            try:
                out.append(pat.sub(_sub, t))
            except ValueError:
                if strict:
                    raise
                out.append(None)
        return pd.Series(out)

    _render.__annotations__ = {
        "tpls": pd.Series, "maps": pd.Series, "return": pd.Series
    }
    _render = F.pandas_udf(_render, "string")
    return _render(_c(template), params)
