#!/usr/bin/env python
"""Single-thread kernel intrinsic harness (round-8; bench.py is FROZEN).

Separates per-document kernel cost from host-window and Spark-boundary
effects, the way BASELINE.md's rounds 2-5 ms/doc numbers did: generates
N corpus docs deterministically (seed 42 — the same generator rows the
bench corpus uses), runs ``extract_document`` single-threaded, reports
docs/s split by HTML/PDF route, and prints a sha256 over every result
row — the byte-identity gate used by every round-8 kernel change.

Usage::

    python bench_kernel.py          # 20k docs, 3 reps
    python bench_kernel.py 80000 2  # the pinned scaling legs' population

The corpus is cached between runs (generation is ~0.6 ms/doc) as parquet in
``.bench_kernel_cache/``, a directory only this user can enter, under a
name keyed by ``perfbench.inputs.code_hash`` (the ``sources/`` and
``golden/`` generator code), so a generator change never serves a stale
corpus to the sha256 gate.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from pathlib import Path

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _docs(n: int) -> list:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.inputs import code_hash, private_dir

    root = Path(REPO)
    path = private_dir(root / ".bench_kernel_cache") / f"docs-n{n}-{code_hash(root)}.parquet"
    try:
        t = pq.read_table(path)
        return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))
    except (OSError, pa.ArrowException):
        pass
    from markmuse_spark.sources.corpus import make_page_row

    docs = []
    for i in range(n):
        r = make_page_row(i)
        docs.append((r["url"], r["html"]))
    table = pa.table(
        {
            "url": pa.array([u for u, _ in docs], pa.string()),
            "html": pa.array([h for _, h in docs], pa.binary()),
        }
    )
    tmp = path.with_name(path.name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return docs


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from markmuse_spark.kernel.extract import extract_document
    from markmuse_spark.kernel.pdf_extract import pdf_header_offset

    docs = _docs(n)
    is_pdf = [bool(p) and pdf_header_offset(p) is not None for _, p in docs]
    n_pdf = sum(is_pdf)
    print(f"{len(docs)} docs: {n_pdf} pdf, {len(docs) - n_pdf} html/other")

    best_html = best_pdf = None
    digest = None
    for rep in range(reps):
        t_html = t_pdf = 0.0
        h = hashlib.sha256()
        for (url, payload), pdf in zip(docs, is_pdf):
            t0 = time.perf_counter()
            row = extract_document(url, payload)
            dt = time.perf_counter() - t0
            if pdf:
                t_pdf += dt
            else:
                t_html += dt
            h.update(repr(sorted(row.items())).encode())
        digest = h.hexdigest()
        tot = t_html + t_pdf
        print(
            f"rep{rep}: {len(docs) / tot:.0f} docs/s | "
            f"html {t_html / max(1, len(docs) - n_pdf) * 1e3:.4f} ms/doc | "
            f"pdf {t_pdf / max(1, n_pdf) * 1e3:.4f} ms/doc"
        )
        best_html = t_html if best_html is None else min(best_html, t_html)
        best_pdf = t_pdf if best_pdf is None else min(best_pdf, t_pdf)
    print(
        f"BEST: {len(docs) / (best_html + best_pdf):.0f} docs/s "
        f"(html {best_html:.3f}s, pdf {best_pdf:.3f}s)"
    )
    print(f"sha256: {digest}")


if __name__ == "__main__":
    main()
