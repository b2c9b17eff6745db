"""The four workloads: set-up, timed entry point, oracle check and state
reset of each.  METHOD.md says why each one exists."""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import inputs

#: input documents per workload: enough that a run is mostly the job's own
#: work, few enough that one measurement holds several runs
SIZES = {
    "crawl_mix": 2000,
    "pdf_archive": 800,
    "resume_tail": 2000,
    "curation_chain": 500,
}
#: resume_tail's committed state: this many earlier runs commit the urls
#: whose bucket (0-9) is below RESUME_DONE, an equal share each
RESUME_PRIOR_RUNS = 3
RESUME_DONE = 9

_OUT_COLS = ["url", "markdown", "extracted_text", "n_images", "error"]
_KEEP_COLS = ["url", "canon_url", "n_chars"]


@dataclass
class Ctx:
    root: Path
    work: Path
    seed: int
    cores: int
    spark: object = None
    inp: inputs.Inputs | None = None
    #: urls that failed the oracle check of set-up state or warm-up runs
    setup_failed: list = field(default_factory=list)


@dataclass
class Check:
    """Outcome of one run's oracle check."""

    attempted: int
    failed: list  # urls whose output disagrees with the oracle
    rows: int = 0  # rows committed
    out_bytes: int = 0
    out_files: int = 0
    skew: float = 0.0  # max / mean of the sidecar's per-partition url_count


def url_bucket(url: str) -> int:
    return int(hashlib.md5(url.encode()).hexdigest()[:8], 16) % 10


def _bucket_col():
    """:func:`url_bucket` as a Spark column."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5("url"), 1, 8), 16, 10).cast("long") % 10


def _same_doc(r: dict, g: dict) -> bool:
    return (r["markdown"], r["extracted_text"], r["n_images"]) == (
        g["markdown"], g["extracted_text"], g["n_images"],
    )


def parity_failures(rows: list[dict], golden: dict, expected: set) -> list[str]:
    """Urls whose committed row breaks byte parity with the oracle, by the
    rule of ``tests/test_spark_e2e.py::test_byte_parity_per_url``; a url
    that is missing, unexpected or committed twice fails too."""
    bad, seen = set(), {}
    for r in rows:
        if r["url"] in seen or r["url"] not in expected:
            bad.add(r["url"])
        seen[r["url"]] = r
    for url in expected:
        r, g = seen.get(url), golden[url]
        if r is None:
            bad.add(url)
        elif g["error_expected"] is not None:
            # the error note must ship; partial rows carry markdown too
            if r["error"] is None or g["error_expected"] not in r["error"]:
                bad.add(url)
            elif g["markdown"] is not None and not _same_doc(r, g):
                bad.add(url)
        elif r["error"] is not None or not _same_doc(r, g):
            bad.add(url)
    return sorted(bad)


def keeplist_failures(got: list[dict], want: list[dict]) -> list[str]:
    """Urls whose keeplist row is missing, unexpected, repeated or has
    other values than the expected keeplist's."""
    bad, seen = set(), {}
    for r in got:
        if r["url"] in seen:
            bad.add(r["url"])
        seen[r["url"]] = (r["canon_url"], r["n_chars"])
    expected = {r["url"]: (r["canon_url"], r["n_chars"]) for r in want}
    bad.update(u for u in seen.keys() | expected.keys() if seen.get(u) != expected.get(u))
    return sorted(bad)


def part_files(path: Path) -> list[Path]:
    """The data files Spark committed under ``path`` (checksums and
    markers start with ``.`` or ``_``)."""
    return sorted(path.glob("part-*"))


def partition_skew(out: Path, run_id: str) -> float:
    rows = pq.read_table(
        out / "extraction_runs", columns=["run_id", "partition_id", "url_count"]
    ).to_pylist()
    counts = [r["url_count"] for r in rows if r["run_id"] == run_id and r["partition_id"] >= 0]
    if not counts or not sum(counts):
        return 0.0
    return max(counts) * len(counts) / sum(counts)


def listing(top: Path) -> dict[str, int]:
    """Relative path -> size of every file under ``top`` (-1 for a directory)."""
    out = {}
    for d, dirs, files in os.walk(top):
        for n in dirs:
            out[os.path.relpath(os.path.join(d, n), top)] = -1
        for n in files:
            p = os.path.join(d, n)
            out[os.path.relpath(p, top)] = os.path.getsize(p)
    return out


class Extraction:
    """``crawl_mix``: a fresh ``run_extraction`` (resume on, empty output)
    over the generator's default mix, as ``cli.py`` runs it."""

    kind = "mix"
    keeplist = False

    def __init__(self, name: str, size: int):
        self.name, self.size = name, size

    def home(self, ctx: Ctx) -> Path:
        return ctx.work / self.name

    def out_dir(self, ctx: Ctx, rep) -> Path:
        return self.home(ctx) / f"out-{rep}"

    def run_id(self, rep) -> str:
        return str(rep)

    def run_dir(self, ctx: Ctx, rep) -> Path:
        return self.out_dir(ctx, rep) / "extracted" / f"run_id={self.run_id(rep)}"

    def resume_dir(self, ctx: Ctx) -> Path:
        """Where the layer chain's resume step looks for committed runs:
        for a fresh job, a directory that never exists."""
        return self.home(ctx) / "out-none"

    def rows(self, ctx: Ctx) -> int:
        """Input rows the job is offered."""
        return ctx.inp.pages.num_rows

    def in_bytes(self, ctx: Ctx) -> int:
        return ctx.inp.payload_bytes

    def expected(self, ctx: Ctx) -> set:
        """Urls the job must commit."""
        return set(ctx.inp.golden)

    def kernel_docs(self, ctx: Ctx) -> list[tuple[str, bytes]]:
        """(url, payload) of the documents the job sends through the kernel."""
        want = self.expected(ctx)
        p = ctx.inp.pages
        return [
            (u, h)
            for u, h in zip(p.column("url").to_pylist(), p.column("html").to_pylist())
            if u in want
        ]

    def setup(self, ctx: Ctx) -> None:
        """Everything before the first timed run, from a clean slate but
        for the session: the inputs (cache hit or generation), the session
        (started by the first set-up, reused by later ones), this
        workload's committed state and one warm-up run, checked but not
        timed."""
        from markmuse_spark.session import get_spark

        inputs.remove(self.home(ctx))
        self.home(ctx).mkdir(parents=True)
        ctx.inp = inputs.load(ctx.root, self.kind, ctx.seed, self.size, self.keeplist)
        if ctx.spark is None:
            ctx.spark = get_spark(
                master=f"local[{ctx.cores}]", app_name=f"perfbench-{self.name}"
            )
        self.prepare(ctx)
        self.job(ctx, "warmup")
        ctx.setup_failed += self.check(ctx, "warmup").failed
        self.reset(ctx, "warmup")

    def prepare(self, ctx: Ctx) -> None:
        """Committed state the workload starts from (none here)."""

    def pages(self, ctx: Ctx):
        return ctx.spark.read.parquet(str(ctx.inp.pages_dir))

    def job(self, ctx: Ctx, rep) -> None:
        """The timed entry point."""
        from markmuse_spark.plans.pipeline import run_extraction

        run_extraction(
            ctx.spark, self.pages(ctx), str(self.out_dir(ctx, rep)), self.run_id(rep)
        )

    def check(self, ctx: Ctx, rep) -> Check:
        run = self.run_dir(ctx, rep)
        rows = pq.read_table(run, columns=_OUT_COLS).to_pylist()
        want = self.expected(ctx)
        files = part_files(run)
        return Check(
            attempted=len(want | {r["url"] for r in rows}),
            failed=parity_failures(rows, ctx.inp.golden, want),
            rows=len(rows),
            out_bytes=sum(f.stat().st_size for f in files),
            out_files=len(files),
            skew=partition_skew(self.out_dir(ctx, rep), self.run_id(rep)),
        )

    def failed_run(self, ctx: Ctx) -> Check:
        """A run that raised: every row it owed counts as failed."""
        want = self.expected(ctx)
        return Check(attempted=len(want), failed=sorted(want))

    def reset(self, ctx: Ctx, rep) -> None:
        inputs.remove(self.out_dir(ctx, rep))


class PdfArchive(Extraction):
    """``pdf_archive``: the same job over the generator's PDF rows only."""

    kind = "pdf"


class ResumeTail(Extraction):
    """``resume_tail``: the job over the crawl_mix pages when the urls of
    buckets below RESUME_DONE (~90%) were committed by earlier runs,
    spread over several run directories as incremental crawls leave them."""

    def out_dir(self, ctx: Ctx, rep) -> Path:
        return self.home(ctx) / "state"

    def run_id(self, rep) -> str:
        return f"tail-{rep}"

    def resume_dir(self, ctx: Ctx) -> Path:
        return self.out_dir(ctx, None)

    def expected(self, ctx: Ctx) -> set:
        return {u for u in ctx.inp.golden if url_bucket(u) >= RESUME_DONE}

    def prepare(self, ctx: Ctx) -> None:
        from markmuse_spark.plans.pipeline import run_extraction

        state = self.out_dir(ctx, None)
        bucket = _bucket_col()
        share = RESUME_DONE // RESUME_PRIOR_RUNS
        for k in range(RESUME_PRIOR_RUNS):
            prior = self.pages(ctx).filter(
                (bucket >= k * share) & (bucket < (k + 1) * share)
            )
            run_extraction(ctx.spark, prior, str(state), f"prior-{k}")
        rows = pq.read_table(state / "extracted", columns=_OUT_COLS).to_pylist()
        done = set(ctx.inp.golden) - self.expected(ctx)
        ctx.setup_failed += parity_failures(rows, ctx.inp.golden, done)
        self.snapshot = listing(state)

    def reset(self, ctx: Ctx, rep) -> None:
        """Back to the committed state of set-up: the run directory and
        sidecar files this run added go, and the listing must then equal
        the one taken at set-up."""
        state = self.out_dir(ctx, rep)
        for rel in sorted(listing(state).keys() - self.snapshot.keys(), reverse=True):
            inputs.remove(state / rel)
        if listing(state) != self.snapshot:
            raise RuntimeError("resume_tail: committed state differs from set-up")


class Curation(Extraction):
    """``curation_chain``: ``p_corpus_curation``'s chain over the crawl_mix
    extracted table committed in set-up."""

    keeplist = True

    def base(self, ctx: Ctx) -> Path:
        return self.home(ctx) / "base"

    def extracted(self, ctx: Ctx) -> Path:
        return self.base(ctx) / "extracted" / "run_id=base"

    def out_dir(self, ctx: Ctx, rep) -> Path:
        return self.home(ctx) / f"keep-{rep}"

    def in_bytes(self, ctx: Ctx) -> int:
        return sum(f.stat().st_size for f in part_files(self.extracted(ctx)))

    def kernel_docs(self, ctx: Ctx) -> list:
        return []

    def prepare(self, ctx: Ctx) -> None:
        from markmuse_spark.plans.pipeline import run_extraction

        run_extraction(ctx.spark, self.pages(ctx), str(self.base(ctx)), "base")
        rows = pq.read_table(self.extracted(ctx), columns=_OUT_COLS).to_pylist()
        ctx.setup_failed += parity_failures(rows, ctx.inp.golden, set(ctx.inp.golden))

    def job(self, ctx: Ctx, rep) -> None:
        from markmuse_spark.plans.cache import cache_scope

        with cache_scope():
            keep = curation_frames(ctx.spark, str(self.extracted(ctx)))["keeplist"]
            keep.write.mode("errorifexists").parquet(str(self.out_dir(ctx, rep)))

    def check(self, ctx: Ctx, rep) -> Check:
        out = self.out_dir(ctx, rep)
        got = pq.read_table(out, columns=_KEEP_COLS).to_pylist()
        files = part_files(out)
        return Check(
            attempted=len({r["url"] for r in got} | {r["url"] for r in ctx.inp.keeplist}),
            failed=keeplist_failures(got, ctx.inp.keeplist),
            rows=len(got),
            out_bytes=sum(f.stat().st_size for f in files),
            out_files=len(files),
        )

    def failed_run(self, ctx: Ctx) -> Check:
        urls = sorted(r["url"] for r in ctx.inp.keeplist)
        return Check(attempted=len(urls), failed=urls)


def curation_frames(spark, extracted: str) -> dict:
    """The curation chain's frames, each stage built on the one before:
    ``crawl`` (the extracted docs plus ``p_corpus_curation``'s re-crawl
    duplicates), ``canonical`` (canonical-url survivors), ``survivors``
    (exact-fingerprint survivors), ``pairs`` (MinHash-LSH near-duplicate
    pairs: 64 permutations, 32 bands, Jaccard >= 0.5) and ``keeplist``."""
    from pyspark.sql import functions as F

    from markmuse_spark.functions import canonical_url
    from markmuse_spark.operators.dedup import minhash_lsh_pairs, normalized_fingerprint
    from markmuse_spark.plans.cache import tracked_persist

    base = (
        spark.read.parquet(extracted)
        .filter(F.col("error").isNull())
        .select("url", "markdown")
    )
    dup = base.select(
        F.concat(F.col("url"), F.lit(inputs.TRACKING_SUFFIX)).alias("url"), "markdown"
    )
    nl = F.instr(F.col("markdown"), "\n")
    near = base.filter(F.substring(F.md5("url"), 1, 1) < "4").select(
        F.concat(F.col("url"), F.lit("/v2")).alias("url"),
        F.when(nl > 0, F.col("markdown").substr(nl + 1, F.length("markdown")))
        .otherwise(F.col("markdown"))
        .alias("markdown"),
    )
    crawl = base.unionByName(dup).unionByName(near).withColumn(
        "canon_url", canonical_url(F.col("url"))
    )
    ckeep = crawl.groupBy("canon_url").agg(F.min("url").alias("url"))
    canonical = crawl.join(ckeep, ["canon_url", "url"])
    fingerprinted = canonical.withColumn("fp", normalized_fingerprint("markdown"))
    fkeep = fingerprinted.groupBy("fp").agg(F.min("url").alias("url"))
    survivors = tracked_persist(fingerprinted.join(fkeep, ["fp", "url"]))
    pairs = minhash_lsh_pairs(
        survivors, id_col="url", text_col="markdown",
        num_perm=64, bands=32, threshold=0.5,
    )
    dominated = pairs.select(F.col("doc_b").alias("url")).distinct()
    keeplist = survivors.join(dominated, "url", "left_anti").select(
        "url", "canon_url", F.length("markdown").alias("n_chars")
    )
    return {
        "crawl": crawl,
        "canonical": canonical,
        "survivors": survivors,
        "pairs": pairs,
        "keeplist": keeplist,
    }


def make(name: str, size: int | None = None) -> Extraction:
    cls = {
        "crawl_mix": Extraction,
        "pdf_archive": PdfArchive,
        "resume_tail": ResumeTail,
        "curation_chain": Curation,
    }[name]
    return cls(name, size or SIZES[name])
