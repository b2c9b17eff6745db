"""Seeded workload inputs, cached as parquet in a private directory.

Pages come from the program's own generator
(``sources.corpus.make_page_row``), oracle rows from ``make_golden_row``,
and the expected curation keeplist from the pure-Python stage replicas in
``golden.query_fixtures``.  An entry is keyed by kind, seed, size and a
hash of the ``sources/`` and ``golden/`` code plus this file, so a
generator change is never served a stale table.  The cache is parquet,
never pickle, in a 0700 directory owned by this user; an entry with the
wrong owner, type or embedded key is deleted and regenerated, never read.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_KEY = b"perfbench.key"
#: pages are stored as several files, as ``cli.py --generate`` stores
#: them, so the scan splits across tasks
N_FILES = 8
#: the re-crawl variant ``p_corpus_curation`` adds for every document
TRACKING_SUFFIX = "?utm_source=crawl2&fbclid=x"

PAGES = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
GOLDEN = pa.schema(
    [
        ("url", pa.string()),
        ("markdown", pa.string()),
        ("extracted_text", pa.string()),
        ("n_images", pa.int32()),
        ("error_expected", pa.string()),
    ]
)
KEEPLIST = pa.schema(
    [("url", pa.string()), ("canon_url", pa.string()), ("n_chars", pa.int32())]
)


def doc_ids(kind: str, size: int) -> list[int]:
    """Generator row ids: the default mix, or only its PDF rows (ids
    congruent to 4 mod 5)."""
    if kind == "mix":
        return list(range(size))
    if kind == "pdf":
        return [5 * k + 4 for k in range(size)]
    raise ValueError(f"unknown input kind {kind!r}")


@dataclass
class Inputs:
    pages_dir: Path  # the parquet directory the Spark job reads
    pages: pa.Table
    golden: dict  # url -> oracle row
    keeplist: list | None  # expected keeplist rows (curation only)
    payload_bytes: int


def load(root: Path, kind: str, seed: int, size: int, keeplist: bool = False) -> Inputs:
    cache = private_dir(root / ".perfbench_cache")
    tag = f"{kind}-seed{seed}-n{size}-{code_hash(root)}"
    pages = _read(cache / f"pages-{tag}", tag)
    golden = _read(cache / f"golden-{tag}", tag)
    if pages is None or golden is None:
        pages, golden = _generate(doc_ids(kind, size), seed)
        _write(cache / f"pages-{tag}", tag, pages, N_FILES)
        _write(cache / f"golden-{tag}", tag, golden, 1)
    keep = None
    if keeplist:
        keep = _read(cache / f"keeplist-{tag}", tag)
        if keep is None:
            keep = expected_keeplist(golden)
            _write(cache / f"keeplist-{tag}", tag, keep, 1)
        keep = keep.to_pylist()
    return Inputs(
        pages_dir=cache / f"pages-{tag}",
        pages=pages,
        golden={r["url"]: r for r in golden.to_pylist()},
        keeplist=keep,
        payload_bytes=pc.sum(pc.binary_length(pages.column("html"))).as_py() or 0,
    )


def code_hash(root: Path) -> str:
    h = hashlib.sha256(Path(__file__).read_bytes())
    pkg = root / "markmuse_spark"
    for sub in ("sources", "golden"):
        for p in sorted((pkg / sub).glob("*.py")):
            h.update(f"\0{sub}/{p.name}\0".encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def private_dir(path: Path) -> Path:
    """``path`` as a directory only this user can enter; whatever else is
    found there (another owner, a wider mode, a link) is removed first."""
    try:
        st = path.lstat()
        if stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid() and not st.st_mode & 0o077:
            return path
        remove(path)
    except FileNotFoundError:
        pass
    path.mkdir(mode=0o700)
    os.chmod(path, 0o700)
    return path


def remove(path: Path) -> None:
    """Delete a file, link or directory tree; a missing path is fine."""
    try:
        st = path.lstat()
    except FileNotFoundError:
        return
    if stat.S_ISDIR(st.st_mode):
        shutil.rmtree(path)
    else:
        path.unlink()


def _read(entry: Path, tag: str) -> pa.Table | None:
    """The cached table, or None after removing an entry that is missing,
    foreign, damaged or keyed for other inputs."""
    try:
        st = entry.lstat()
    except FileNotFoundError:
        return None
    tables = []
    try:
        if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
            raise ValueError("not a directory of this user")
        for p in sorted(entry.iterdir()):
            pst = p.lstat()
            if not stat.S_ISREG(pst.st_mode) or pst.st_uid != os.getuid():
                raise ValueError("not a file of this user")
            t = pq.read_table(p)
            if (t.schema.metadata or {}).get(_KEY) != tag.encode():
                raise ValueError("keyed for other inputs")
            tables.append(t)
        if not tables:
            raise ValueError("empty entry")
    except (OSError, ValueError, pa.ArrowException):
        remove(entry)
        return None
    return pa.concat_tables(tables)


def _write(entry: Path, tag: str, table: pa.Table, n_files: int) -> None:
    tmp = entry.with_name(entry.name + ".tmp")
    remove(tmp)
    remove(entry)
    tmp.mkdir(mode=0o700)
    table = table.replace_schema_metadata({_KEY: tag.encode()})
    step = max(1, -(-table.num_rows // n_files))
    for k in range(0, max(1, table.num_rows), step):
        pq.write_table(
            table.slice(k, step), tmp / f"part-{k // step:05d}.parquet",
            compression="zstd",
        )
    os.rename(tmp, entry)


def _generate(ids: list[int], seed: int) -> tuple[pa.Table, pa.Table]:
    from markmuse_spark.sources import corpus

    pages = [corpus.make_page_row(i, seed) for i in ids]
    golden = [corpus.make_golden_row(i, seed) for i in ids]
    return pa.Table.from_pylist(pages, schema=PAGES), pa.Table.from_pylist(golden, schema=GOLDEN)


def expected_keeplist(golden: pa.Table) -> pa.Table:
    """The curation job's expected output from oracle markdown, through
    the stage replicas ``golden.query_fixtures`` mints
    ``p_corpus_curation`` with: canonical-url survivorship, exact
    fingerprint survivorship, then dropping the greater url of every pair
    whose 3-gram Jaccard is at least 0.5.  Pairs are found through a
    shingle index rather than over all pairs; a pair that shares no
    shingle has Jaccard 0, so the relation is the same."""
    from markmuse_spark.golden.query_fixtures import (
        _canonicalize_url, _jaccard_shingles, _ws_fingerprint,
    )

    crawl = []
    cols = (golden.column(c).to_pylist() for c in ("url", "markdown", "error_expected"))
    for url, md, err in zip(*cols):
        if err is not None:
            continue  # the job keeps only rows extracted without error
        crawl += [(url, md), (url + TRACKING_SUFFIX, md)]
        if hashlib.md5(url.encode()).hexdigest()[0] < "4":
            crawl.append((url + "/v2", md.split("\n", 1)[1] if "\n" in md else md))
    by_canon: dict[str, tuple[str, str]] = {}
    for url, md in crawl:
        c = _canonicalize_url(url)
        if c not in by_canon or url < by_canon[c][0]:
            by_canon[c] = (url, md)
    by_fp: dict[str, tuple[str, str, str]] = {}
    for c, (url, md) in by_canon.items():
        fp = _ws_fingerprint(md)
        if fp not in by_fp or url < by_fp[fp][0]:
            by_fp[fp] = (url, c, md)
    survivors = sorted(by_fp.values())
    shingles = [_jaccard_shingles(md) for _, _, md in survivors]
    index: dict[str, list[int]] = {}
    for k, sh in enumerate(shingles):
        for g in sh:
            index.setdefault(g, []).append(k)
    dominated = set()
    for a, sa in enumerate(shingles):
        shared: dict[int, int] = {}
        for g in sa:
            for b in index[g]:
                if b > a:
                    shared[b] = shared.get(b, 0) + 1
        for b, inter in shared.items():
            if inter / (len(sa) + len(shingles[b]) - inter) >= 0.5:
                dominated.add(b)
    rows = [
        {"url": u, "canon_url": c, "n_chars": len(md)}
        for k, (u, c, md) in enumerate(survivors)
        if k not in dominated
    ]
    return pa.Table.from_pylist(rows, schema=KEEPLIST)
