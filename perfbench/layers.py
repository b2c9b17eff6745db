"""Per-layer measurement: the ``--trace 1`` mode.

Every number comes from the benchmark's own code around calls into the
program's public functions; nothing inside the program is instrumented.

* Spark-side layer times are cumulative deltas in one session.  A round
  runs the chain scan, + resume anti-join, + identity ``mapInArrow`` (the
  Arrow boundary), + kernel, + salted shuffle, + sort, + zstd write,
  + the whole ``run_extraction`` (whose extra is the lineage sidecar),
  each step into a no-op sink but the last two.  Rounds repeat for
  ``--seconds``; a step's time is its median and a layer's time is its
  step's median minus the previous step's, so the layers sum to the chain
  total.  The curation chain is cut the same way at its stages.
* Kernel-side spans come from one process sending the workload's
  documents through the calls ``kernel.extract.extract_document`` makes,
  with a span around each.  That pass must hash like plain
  ``extract_document`` over the same documents, and the time between the
  two passes is the tracing overhead.
* Counts (rows, bytes, files, pairs) come from the committed outputs.
"""

from __future__ import annotations

import hashlib
import statistics
import time
from collections import Counter, defaultdict

from perfbench import inputs, workloads

CHAIN = (
    "spark.scan_s",
    "plans.pipeline.resume_s",
    "operators.extract.boundary_s",
    "operators.extract.kernel_s",
    "plans.pipeline.shuffle_s",
    "plans.pipeline.sort_s",
    "plans.pipeline.write_s",
    "plans.pipeline.sidecar_s",
)
CURATION = (
    "functions.canonical_url_s",
    "operators.dedup.exact_s",
    "operators.dedup.minhash_lsh_s",
    "curation.write_s",
)
_ROUTES = ("kernel.html_extract", "kernel.pdf_extract")
#: every per-layer metric with its unit; a workload reports 0 for a layer
#: it does not run
UNITS = {
    **dict.fromkeys(CHAIN, "s"),
    "plans.pipeline.chain_total_s": "s",
    "plans.pipeline.partition_skew": "ratio",
    "plans.pipeline.write_bytes": "bytes",
    "plans.pipeline.write_files": "count",
    "plans.pipeline.resume_rows": "count",
    "plans.pipeline.extract_ratio": "ratio",
    **{
        f"{r}.{k}": u
        for r in _ROUTES
        for k, u in (
            ("s", "s"), ("docs", "count"), ("mb", "MB"),
            ("p50_ms", "ms"), ("p99_ms", "ms"), ("errors", "count"),
        )
    },
    "kernel.pdf_extract.partial": "count",
    "kernel.extract.sniff_s": "s",
    "kernel.extract.self_s": "s",
    "kernel.markdown_assembly.s": "s",
    "kernel.extract.error_classes": "count",
    **dict.fromkeys(CURATION, "s"),
    "curation.total_s": "s",
    "operators.dedup.rows_in": "count",
    "operators.dedup.survivors": "count",
    "operators.dedup.pairs": "count",
    "operators.dedup.keep_ratio": "ratio",
    "trace.overhead_frac": "ratio",
    "oracle.failed_frac": "ratio",
}
#: chain rounds per measurement at the least
MIN_ROUNDS = 2
#: plain and traced kernel passes each, alternated
KERNEL_PASSES = 2

_clock = time.perf_counter


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(df):
    """The Arrow round trip JVM -> Python -> JVM with no work in Python."""
    slim = df.select("url", "html")

    def run(batches):
        yield from batches

    return slim.mapInArrow(run, slim.schema)


class _FullJob:
    """The workload's own entry point as the chain's last step: checked
    and reset after each run, outside the step's time."""

    def __init__(self, ctx, wl, runs: list):
        self.ctx, self.wl, self.runs, self.n = ctx, wl, runs, 0
        self.last: workloads.Check | None = None

    def run(self) -> None:
        self.wl.job(self.ctx, f"trace{self.n}")

    def after(self) -> None:
        rep = f"trace{self.n}"
        self.last = self.wl.check(self.ctx, rep)
        self.wl.reset(self.ctx, rep)
        self.runs.append({"attempted": self.last.attempted, "failed": self.last.failed})
        self.n += 1


def _nothing() -> None:
    pass


def _chain_steps(ctx, wl, full: _FullJob) -> list:
    from markmuse_spark.operators.extract import extract_markdown
    from markmuse_spark.plans import pipeline

    spark = ctx.spark
    par = spark.sparkContext.defaultParallelism
    resume_dir = str(wl.resume_dir(ctx))
    scratch = ctx.work / "chain-write"

    def todo():
        pages = wl.pages(ctx)
        done = pipeline.committed_urls(spark, resume_dir)
        return pages if done is None else pages.join(done, "url", "left_anti")

    def extracted(shuffle: bool):
        t = todo()
        return extract_markdown(pipeline.salted_repartition(t, par) if shuffle else t)

    def write():
        (
            extracted(True).sortWithinPartitions("url")
            .write.mode("errorifexists").option("compression", "zstd")
            .parquet(str(scratch))
        )

    return [
        ("spark.scan_s", lambda: _noop(wl.pages(ctx).select("url", "html")), _nothing),
        ("plans.pipeline.resume_s", lambda: _noop(todo().select("url", "html")), _nothing),
        ("operators.extract.boundary_s", lambda: _noop(_identity(todo())), _nothing),
        ("operators.extract.kernel_s", lambda: _noop(extracted(False)), _nothing),
        ("plans.pipeline.shuffle_s", lambda: _noop(extracted(True)), _nothing),
        (
            "plans.pipeline.sort_s",
            lambda: _noop(extracted(True).sortWithinPartitions("url")),
            _nothing,
        ),
        ("plans.pipeline.write_s", write, lambda: inputs.remove(scratch)),
        ("plans.pipeline.sidecar_s", full.run, full.after),
    ]


def _curation_steps(ctx, wl, full: _FullJob) -> list:
    from markmuse_spark.plans.cache import cache_scope

    def stage(frame: str):
        def run():
            with cache_scope():
                _noop(workloads.curation_frames(ctx.spark, str(wl.extracted(ctx)))[frame])

        return run

    return [
        ("functions.canonical_url_s", stage("canonical"), _nothing),
        ("operators.dedup.exact_s", stage("survivors"), _nothing),
        ("operators.dedup.minhash_lsh_s", stage("keeplist"), _nothing),
        ("curation.write_s", full.run, full.after),
    ]


def _rounds(steps: list, seconds: float, spans: list) -> dict:
    """Run the steps in order, round after round, for ``seconds`` and at
    least MIN_ROUNDS rounds; returns each step's median time."""
    times = defaultdict(list)
    start, rounds = _clock(), 0
    while rounds < MIN_ROUNDS or _clock() - start < seconds:
        for name, run, after in steps:
            t0 = _clock()
            run()
            t1 = _clock()
            spans.append((name, rounds, -1, t0, t1))
            times[name].append(t1 - t0)
            after()
        rounds += 1
    return {name: statistics.median(v) for name, v in times.items()}


def _call(spans: list, name: str, trace: int, parent: int, fn, *args):
    t0 = _clock()
    try:
        return fn(*args)
    finally:
        spans.append((name, trace, parent, t0, _clock()))


def _traced_document(i: int, url: str, payload, spans: list) -> dict:
    """``kernel.extract.extract_document`` with a span around each kernel
    call it makes; the result row must be the same."""
    from markmuse_spark.kernel import extract as kx
    from markmuse_spark.kernel import html_extract, pdf_extract
    from markmuse_spark.kernel.markdown_assembly import assemble_one

    top = len(spans)
    spans.append(None)
    t0 = _clock()
    try:
        if payload is None or len(payload) == 0:
            raise ValueError("empty payload")
        off = _call(spans, "kernel.extract.sniff", i, top, pdf_extract.pdf_header_offset, payload)
        route, mod = (
            ("kernel.html_extract", html_extract) if off is None
            else ("kernel.pdf_extract", pdf_extract)
        )
        pages = _call(spans, route, i, top, mod.extract_pages, payload)
        doc = _call(spans, "kernel.markdown_assembly", i, top, assemble_one, url, pages)
        row = {
            "url": url,
            "markdown": doc["markdown"],
            "extracted_text": doc["extracted_text"],
            "n_pages": len(pages),
            "n_images": len(doc["image_manifest"]),
            "n_chars": len(doc["markdown"]),
            "error": kx._partial_note(pages),
        }
    except Exception as exc:
        row = {
            "url": url,
            "markdown": None,
            "extracted_text": None,
            "n_pages": 0,
            "n_images": 0,
            "n_chars": 0,
            "error": f"{type(exc).__name__}: {exc}",
        }
    spans[top] = ("kernel.extract", i, -1, t0, _clock())
    return row


def kernel_pass(docs: list, spans: list | None = None, errors: dict | None = None):
    """Send ``docs`` through the kernel in this process; returns the
    sha256 over the result rows and the wall time.  With ``spans`` the
    pass records spans into it (and each row's error into ``errors``);
    without, it calls plain ``extract_document``."""
    from markmuse_spark.kernel.extract import extract_document

    h = hashlib.sha256()
    t0 = _clock()
    for i, (url, payload) in enumerate(docs):
        if spans is None:
            row = extract_document(url, payload)
        else:
            row = _traced_document(i, url, payload, spans)
            errors[i] = row["error"]
        h.update(repr(sorted(row.items())).encode())
    return h.hexdigest(), _clock() - t0


def self_times(spans: list) -> dict[int, float]:
    """Self time of each top-level span: its duration minus the part of it
    that its child spans cover."""
    kids = defaultdict(list)
    for name, trace, parent, t0, t1 in spans:
        if parent >= 0:
            kids[parent].append((t0, t1))
    out = {}
    for k, (name, trace, parent, a, b) in enumerate(spans):
        if parent >= 0:
            continue
        covered, end = 0.0, a
        for s, e in sorted(kids[k]):
            s, e = max(s, end), min(e, b)
            if e > s:
                covered += e - s
                end = e
        out[k] = (b - a) - covered
    return out


def _pct(values: list, q: float) -> float:
    if not values:
        return 0.0
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


def kernel_metrics(docs: list, spans: list, errors: dict) -> tuple[dict, dict]:
    total = defaultdict(float)
    durs = defaultdict(list)
    route_of = {}
    for name, trace, parent, t0, t1 in spans:
        total[name] += t1 - t0
        if name in _ROUTES:
            durs[name].append(t1 - t0)
            route_of[trace] = name
    m = {}
    for route in _ROUTES:
        idx = [i for i, r in route_of.items() if r == route]
        errs = [errors[i] for i in idx if errors[i] is not None]
        partial = sum(e.startswith("PartialExtraction:") for e in errs)
        m[f"{route}.s"] = total[route]
        m[f"{route}.docs"] = len(idx)
        m[f"{route}.mb"] = sum(len(docs[i][1]) for i in idx) / 1e6
        m[f"{route}.p50_ms"] = _pct(durs[route], 0.50) * 1e3
        m[f"{route}.p99_ms"] = _pct(durs[route], 0.99) * 1e3
        m[f"{route}.errors"] = len(errs) - partial
        if route == "kernel.pdf_extract":
            m[f"{route}.partial"] = partial
    m["kernel.extract.sniff_s"] = total["kernel.extract.sniff"]
    m["kernel.markdown_assembly.s"] = total["kernel.markdown_assembly"]
    m["kernel.extract.self_s"] = sum(self_times(spans).values())
    classes = Counter(e.split(":", 1)[0] for e in errors.values() if e is not None)
    m["kernel.extract.error_classes"] = len(classes)
    return m, dict(classes)


def measure(ctx, wl, seconds: float) -> tuple[dict, list, dict]:
    """The per-layer table of ``wl``: (metric name -> (value, unit), the
    oracle checks of the full runs made, detail for the result file)."""
    from markmuse_spark.plans import pipeline
    from markmuse_spark.plans.cache import cache_scope

    m = dict.fromkeys(UNITS, 0.0)
    runs: list = []
    spans: list = []
    full = _FullJob(ctx, wl, runs)
    curation = isinstance(wl, workloads.Curation)
    if curation:
        names, total = CURATION, "curation.total_s"
        med = _rounds(_curation_steps(ctx, wl, full), seconds, spans)
    else:
        names, total = CHAIN, "plans.pipeline.chain_total_s"
        med = _rounds(_chain_steps(ctx, wl, full), seconds, spans)
    prev = 0.0
    for name in names:
        m[name] = med[name] - prev
        prev = med[name]
    m[total] = med[names[-1]]
    reconciled = abs(sum(m[n] for n in names) - m[total]) <= 1e-9 * max(1.0, m[total])

    if curation:
        with cache_scope():
            f = workloads.curation_frames(ctx.spark, str(wl.extracted(ctx)))
            m["operators.dedup.rows_in"] = f["crawl"].count()
            m["operators.dedup.survivors"] = f["survivors"].count()
            m["operators.dedup.pairs"] = f["pairs"].count()
        m["operators.dedup.keep_ratio"] = full.last.rows / m["operators.dedup.rows_in"]
    else:
        pages = wl.pages(ctx)
        done = pipeline.committed_urls(ctx.spark, str(wl.resume_dir(ctx)))
        todo = pages if done is None else pages.join(done, "url", "left_anti")
        m["plans.pipeline.resume_rows"] = todo.count()
        m["plans.pipeline.extract_ratio"] = m["plans.pipeline.resume_rows"] / wl.rows(ctx)
        m["plans.pipeline.partition_skew"] = full.last.skew
        m["plans.pipeline.write_bytes"] = full.last.out_bytes
        m["plans.pipeline.write_files"] = full.last.out_files

    detail = {"reconciled": reconciled, "sha_match": True, "error_classes": {}}
    docs = wl.kernel_docs(ctx)
    if docs:
        plain, traced = [], []
        for _ in range(KERNEL_PASSES):
            sha_plain, dt = kernel_pass(docs)
            plain.append(dt)
            kspans: list = []
            errors: dict = {}
            sha_traced, dt = kernel_pass(docs, kspans, errors)
            traced.append(dt)
        km, classes = kernel_metrics(docs, kspans, errors)
        m.update(km)
        m["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
        spans += kspans
        detail.update(
            sha_match=sha_plain == sha_traced,
            sha256=sha_traced,
            error_classes=classes,
        )
    attempted = sum(r["attempted"] for r in runs)
    m["oracle.failed_frac"] = sum(len(r["failed"]) for r in runs) / max(1, attempted)
    detail["spans"] = spans
    return {k: (v, UNITS[k]) for k, v in m.items()}, runs, detail
