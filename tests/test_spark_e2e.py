"""End-to-end Spark pipeline: byte-identical per-url output vs golden
fixtures (the north rule), resume idempotency, skew bucketing, lineage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from markmuse_spark.operators.extract import extract_markdown
from markmuse_spark.plans import pipeline
from markmuse_spark.sources import corpus

N_ROWS = 400


@pytest.fixture(scope="module")
def small_corpus(spark):
    pages = corpus.pages_dataframe(spark, N_ROWS, seed=42, partitions=8)
    golden = corpus.golden_dataframe(spark, N_ROWS, seed=42, partitions=8)
    return pages, golden


def test_byte_parity_per_url(spark, small_corpus):
    pages, golden = small_corpus
    result = extract_markdown(pages)
    joined = result.alias("r").join(golden.alias("g"), "url", "full_outer")
    rows = joined.select(
        "url",
        F.col("r.markdown").alias("got_md"),
        F.col("g.markdown").alias("want_md"),
        F.col("r.extracted_text").alias("got_text"),
        F.col("g.extracted_text").alias("want_text"),
        F.col("r.n_images").alias("got_n"),
        F.col("g.n_images").alias("want_n"),
        F.col("r.error").alias("got_err"),
        F.col("g.error_expected").alias("want_err"),
    ).collect()
    assert len(rows) == N_ROWS
    for r in rows:
        if r["want_err"] is not None:
            assert r["got_err"] is not None and r["want_err"] in r["got_err"], r["url"]
            if r["want_md"] is None:
                continue  # hard error: nothing recoverable
            # corpus v17 PARTIAL rows: the error note ships WITH the
            # salvaged pages' markdown — both must match
        else:
            assert r["got_err"] is None, (r["url"], r["got_err"])
        assert r["got_md"] == r["want_md"], r["url"]
        assert r["got_text"] == r["want_text"], r["url"]
        assert r["got_n"] == r["want_n"], r["url"]


def test_full_run_with_sidecar(spark, small_corpus, tmp_path):
    pages, _ = small_corpus
    out = str(tmp_path / "out")
    job = pipeline.run_extraction(spark, pages, out, run_id="r1")
    assert job["status"] == "SUCCESS"
    assert job["url_count"] == N_ROWS
    # adversarial rows (i % 100 == 7, empty payloads) and corpus-v17
    # partial (truncated-PDF) rows both surface in the error column
    # one generator pass for both expectations (each _make_doc renders a
    # full document; three passes tripled this test's corpus cost)
    errs = [corpus._make_doc(i, 42)[3] for i in range(N_ROWS)]
    expect_partial = sum(
        1 for e in errs if (e or "").startswith("PartialExtraction:")
    )
    expect_err = sum(1 for e in errs if e is not None)
    assert job["err_count"] == expect_err
    extracted = spark.read.parquet(f"{out}/extracted")
    assert extracted.count() == N_ROWS
    runs = spark.read.parquet(f"{out}/extraction_runs")
    import json as _json

    got_partial = sum(
        _json.loads(r["metrics"])["partial_count"]
        for r in runs.filter("partition_id >= 0").collect()
    )
    assert got_partial == expect_partial
    parts = runs.filter(F.col("partition_id") >= 0)
    agg = parts.agg(F.sum("url_count"), F.sum("ok_count"), F.sum("err_count")).first()
    assert agg[0] == N_ROWS and agg[0] == agg[1] + agg[2]
    assert runs.filter((F.col("partition_id") == -1) & (F.col("status") == "SUCCESS")).count() == 1
    assert runs.schema == T._parse_datatype_string(pipeline.RUNS_SCHEMA)
    # cross-check: the accumulator-built sidecar must agree with a re-read
    # of the committed output per partition (the production job never does
    # this second scan; the test does it so a drift would be caught here)
    reread = {
        r["partition_id"]: (r["url_count"], r["err_count"])
        for r in extracted.groupBy("partition_id")
        .agg(
            F.count("*").alias("url_count"),
            F.count(F.when(F.col("error").isNotNull(), 1)).alias("err_count"),
        )
        .collect()
    }
    sidecar = {
        r["partition_id"]: (r["url_count"], r["err_count"]) for r in parts.collect()
    }
    assert sidecar == reread


def test_iceberg_sink_without_catalog_fails_with_lineage(spark, tmp_path):
    """Contract for the Iceberg path in a catalog-less sandbox: the write
    fails loudly, a FAILURE lineage row is still committed (A20), and the
    run directory is absent so resume treats the run as not-done."""
    import os

    import pytest as _pytest

    out = str(tmp_path / "out")
    pages = corpus.pages_dataframe(spark, 30, seed=42, partitions=2)
    with _pytest.raises(RuntimeError, match="failed"):
        pipeline.run_extraction(
            spark, pages, out, run_id="rI", iceberg_table="ice.cat.extracted"
        )
    runs = spark.read.parquet(f"{out}/extraction_runs")
    row = runs.filter(F.col("run_id") == "rI").collect()
    assert len(row) == 1 and row[0]["status"] == "FAILURE"
    assert row[0]["error_message"]
    assert not os.path.exists(f"{out}/extracted/run_id=rI/_SUCCESS")
    # and the next (parquet) run is unaffected by the failed one
    job = pipeline.run_extraction(spark, pages, out, run_id="rJ")
    assert job["status"] == "SUCCESS" and job["url_count"] == 30


def test_resume_is_idempotent_and_incremental(spark, tmp_path):
    out = str(tmp_path / "out")
    first = corpus.pages_dataframe(spark, 120, seed=42, partitions=4)
    pipeline.run_extraction(spark, first, out, run_id="r1")
    # re-running over a superset only processes the 80 new urls
    full = corpus.pages_dataframe(spark, 200, seed=42, partitions=4)
    job2 = pipeline.run_extraction(spark, full, out, run_id="r2")
    assert job2["url_count"] == 80
    extracted = spark.read.parquet(f"{out}/extracted")
    assert extracted.count() == 200
    assert extracted.select("url").distinct().count() == 200  # exactly-once
    # a third run is a no-op
    job3 = pipeline.run_extraction(spark, full, out, run_id="r3")
    assert job3["url_count"] == 0


def test_uncommitted_run_not_treated_as_done(spark, tmp_path):
    import os

    out = str(tmp_path / "out")
    pages = corpus.pages_dataframe(spark, 60, seed=42, partitions=4)
    pipeline.run_extraction(spark, pages, out, run_id="r1")
    # simulate a torn run: directory exists but no _SUCCESS marker
    os.remove(f"{out}/extracted/run_id=r1/_SUCCESS")
    job = pipeline.run_extraction(spark, pages, out, run_id="r2")
    assert job["url_count"] == 60  # everything redone


def test_salted_repartition_spreads_urls_evenly(spark):
    pages = corpus.pages_dataframe(spark, 1001, seed=42, partitions=8)
    shuffled = pipeline.salted_repartition(pages, parallelism=4)
    assert shuffled.rdd.getNumPartitions() == 8
    rows = shuffled.select("url", F.spark_partition_id().alias("pid")).collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == 1001 and len(set(urls)) == 1001
    per_part = [0] * 8
    for r in rows:
        per_part[r["pid"]] += 1
    assert min(per_part) > 0
    assert max(per_part) / (1001 / 8) <= 1.3, per_part


def test_plan_prunes_columns(spark, tmp_path):
    # against a real parquet scan the operator must only read (url, html):
    # Catalyst column pruning must reach ReadSchema — at 100 TB reading the
    # unused text/lang/warc_ts columns would be a ~2x scan overhead
    path = str(tmp_path / "pages_parquet")
    corpus.pages_dataframe(spark, 50, seed=42, partitions=2).write.parquet(path)
    pages = spark.read.parquet(path)
    plan = extract_markdown(pages)._jdf.queryExecution().executedPlan().toString()
    scan_line = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "url" in scan_line and "html" in scan_line
    assert "warc_ts" not in scan_line
    assert "lang" not in scan_line
    assert "text" not in scan_line.split("ReadSchema")[1]


def test_extraction_invariant_under_partitioning(spark):
    # the whole engine must be a pure function of the data: identical
    # results no matter how rows are partitioned/shuffled
    pages = corpus.pages_dataframe(spark, 120, seed=42, partitions=4)
    one = {
        r["url"]: (r["markdown"], r["extracted_text"], r["error"])
        for r in extract_markdown(pages.repartition(1)).collect()
    }
    many = {
        r["url"]: (r["markdown"], r["extracted_text"], r["error"])
        for r in extract_markdown(pages.repartition(11)).collect()
    }
    assert one == many


def test_control_plane_queries_over_sidecar(spark, tmp_path):
    # the reference's task-API relational surface (B1-B6) applied to our
    # extraction_runs lineage table: point lookup, status filter, time
    # ordering + pagination, counts
    out = str(tmp_path / "out")
    pipeline.run_extraction(
        spark, corpus.pages_dataframe(spark, 60, seed=42, partitions=4), out, run_id="r1"
    )
    pipeline.run_extraction(
        spark, corpus.pages_dataframe(spark, 100, seed=42, partitions=4), out, run_id="r2"
    )
    runs = spark.read.parquet(f"{out}/extraction_runs")
    # B1 point lookup by run id (job-level row)
    job = runs.filter((F.col("run_id") == "r2") & (F.col("partition_id") == -1)).collect()
    assert len(job) == 1 and job[0]["url_count"] == 40
    # B2/B8 conjunctive status filter
    ok_parts = runs.filter((F.col("status") == "SUCCESS") & (F.col("partition_id") >= 0))
    assert ok_parts.agg(F.sum("url_count")).first()[0] == 100
    # B3+B4 sort desc + paginate over job rows
    page = (
        runs.filter(F.col("partition_id") == -1)
        .orderBy(F.col("started_at").desc())
        .offset(1)
        .limit(1)
        .collect()
    )
    assert page[0]["run_id"] == "r1"
    # B6 counts per status
    counts = {r["status"]: r["n"] for r in runs.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert counts.get("SUCCESS", 0) >= 2


def test_grouped_map_assembly_matches_golden(spark):
    # the applyInPandas path over an exploded ocr_pages table (FIXTURES §2)
    # must be byte-identical to the golden oracle, same as the fused path
    import pandas as pd

    from markmuse_spark.operators.assemble import assemble_documents
    from markmuse_spark.golden import fixtures, oracle

    docs = fixtures.edge_case_documents() + fixtures.random_documents(40, seed=11)
    rows = []
    for d in docs:
        for p in d["pages"]:
            rows.append(
                {
                    "url": d["url"],
                    "page_idx": p["page_idx"],
                    "markdown": p["markdown"],
                    "images": p.get("images") or [],
                }
            )
    exploded = spark.createDataFrame(
        pd.DataFrame(rows),
        "url string, page_idx int, markdown string, "
        "images array<struct<id string, image_base64 string>>",
    )
    got = {r["url"]: r for r in assemble_documents(exploded).collect()}
    assert len(got) == len(docs)
    for d in docs:
        want = oracle.assemble_document(d["url"], d["pages"])
        g = got[d["url"]]
        assert g["markdown"] == want["markdown"], d["url"]
        assert g["extracted_text"] == want["extracted_text"], d["url"]
        assert g["n_images"] == len(want["image_manifest"]), d["url"]


def test_enhanced_run_with_captions(spark, tmp_path):
    """A11 at pipeline level: run_extraction(captions=...) extracts with
    the caption-injecting tail; sidecar accumulates from the same pass."""
    from markmuse_spark.operators.extract import deterministic_captions

    out = str(tmp_path / "out")
    pages = corpus.pages_dataframe(spark, 80, seed=42, partitions=4)
    job = pipeline.run_extraction(
        spark, pages, out, run_id="rE", captions=deterministic_captions(pages)
    )
    assert job["status"] == "SUCCESS" and job["url_count"] == 80
    df = spark.read.parquet(f"{out}/extracted")
    assert "n_enhanced" in df.columns
    assert df.agg(F.sum("n_enhanced")).first()[0] > 0
    # enhanced markdown carries the AI-analysis block for captioned images
    one = df.filter(F.col("n_enhanced") > 0).select("markdown").first()
    assert "**AI图片分析**：" in one["markdown"]


# the operators' output schemas before they shared one runner, kept
# verbatim as the reference the derived schemas must reproduce
_RESULT_DDL = (
    "url string, markdown string, extracted_text string, n_pages int, "
    "n_images int, n_chars long, error string, partition_id int"
)
_ENHANCED_DDL = (
    "url string, markdown string, extracted_text string, n_pages int, "
    "n_images int, n_enhanced int, n_chars long, error string, partition_id int"
)


def test_markdown_operator_schemas_match_reference_ddl(spark):
    """Both markdown operators keep their column names, types and order:
    the plain one exactly ``_RESULT_DDL``, the enhanced one the same plus
    ``n_enhanced`` after ``n_images``."""
    from markmuse_spark.operators.extract import (
        deterministic_captions,
        extract_markdown_enhanced,
    )

    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    pages = corpus.pages_dataframe(spark, 4, seed=42, partitions=1)
    enhanced = extract_markdown_enhanced(pages, deterministic_captions(pages))
    for df, ddl in ((extract_markdown(pages), _RESULT_DDL), (enhanced, _ENHANCED_DDL)):
        assert fields(df.schema) == fields(spark.createDataFrame([], ddl).schema)


# the images table's schema as it was spelled before it was derived from
# the operator's Arrow schema
_IMAGE_ROWS_DDL = (
    "url string, page_idx int, img_idx int, img_id string, "
    "safe_filename string, rel_path string, content_type string, "
    "n_bytes long, data binary"
)


def test_images_operator_schema_matches_reference_ddl(spark):
    """``extract_images`` keeps its column names, types and order."""
    from markmuse_spark.operators.extract import extract_images

    pages = corpus.pages_dataframe(spark, 4, seed=42, partitions=1)
    assert extract_images(pages).schema == spark.createDataFrame([], _IMAGE_ROWS_DDL).schema


def test_enhanced_uncaptioned_pages_take_the_enhanced_tail(spark):
    """A page with no caption rows reaches the runner as a null caption
    map; it must still take the enhanced tail (refs verbatim, no global
    rewrite, ``n_enhanced == 0``), not the plain one that rewrites refs."""
    from markmuse_spark.golden import oracle
    from markmuse_spark.operators.extract import (
        deterministic_captions,
        extract_markdown_enhanced,
    )

    n = 40
    pages = corpus.pages_dataframe(spark, n, seed=42, partitions=2)
    captioned = [corpus.row_url(i) for i in range(0, n, 2)]
    caps = deterministic_captions(pages).filter(F.col("url").isin(captioned))
    enh = {r["url"]: r for r in extract_markdown_enhanced(pages, caps).collect()}
    plain = {r["url"]: r["markdown"] for r in extract_markdown(pages).collect()}
    assert len(enh) == len(plain) == n
    assert sum(enh[u]["n_enhanced"] for u in captioned) > 0

    n_checked = n_differ = 0
    for i in range(1, n, 2):
        url, _payload, expected, _err = corpus._make_doc(i, 42)
        got = enh[url]
        assert got["n_enhanced"] == 0, url
        if expected is None:  # hard error: no markdown either way
            assert got["markdown"] is None and plain[url] is None, url
            continue
        want = oracle.assemble_document_enhanced(url, expected, {})
        assert got["markdown"] == want["markdown"], url
        assert got["extracted_text"] == want["extracted_text"], url
        assert got["n_images"] == len(want["image_manifest"]), url
        n_checked += 1
        n_differ += got["markdown"] != plain[url]
    # the plain tail rewrites image refs, so some uncaptioned docs must
    # read differently from the plain operator's row for the same url
    assert n_checked and n_differ


def test_binary_views_are_zero_copy_and_null_safe():
    """The Arrow payload accessor must slice the batch's data buffer
    (no per-cell bytes copy) and round-trip nulls/empties/content
    byte-identically with to_pylist()."""
    import pyarrow as pa

    from markmuse_spark.operators.extract import _binary_views

    cells = [b"%PDF-1.4 junk", None, b"", b"<html>x</html>" * 100, b"\x00\xff"]
    col = pa.array(cells, type=pa.binary())
    views = _binary_views(col)
    assert [None if v is None else bytes(v) for v in views] == col.to_pylist()
    live = [v for v in views if v]
    assert all(isinstance(v, memoryview) for v in live)
    # zero-copy: every live view shares the column's single data buffer
    buf = col.buffers()[2]
    base = pa.foreign_buffer(buf.address, buf.size)  # address identity proxy
    assert sum(len(v) for v in live) == buf.size
    # sliced batches must honor the array offset
    sl = col.slice(2, 3)
    assert [
        None if v is None else bytes(v) for v in _binary_views(sl)
    ] == sl.to_pylist()
    # and the kernel dispatch accepts the views directly
    from markmuse_spark.kernel.extract import extract_document

    row = extract_document("https://x.example/a", memoryview(b"<p>hi</p>"))
    assert row["error"] is None and "hi" in row["markdown"]


def test_resume_skips_committed_runs_not_failed_ones(spark, tmp_path):
    """Resume skips exactly the urls of _SUCCESS-committed runs: an
    incremental run extracts only the new urls, and a failed run (which
    leaves a FAILURE lineage row and no committed run dir) marks nothing
    as done."""
    out = str(tmp_path / "out")
    first = corpus.pages_dataframe(spark, 120, seed=42, partitions=4)
    pipeline.run_extraction(spark, first, out, run_id="s1")
    full = corpus.pages_dataframe(spark, 200, seed=42, partitions=4)
    job2 = pipeline.run_extraction(spark, full, out, run_id="s2")
    assert job2["url_count"] == 80  # only the new urls
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        pipeline.run_extraction(
            spark, full, out, run_id="s3", iceberg_table="nocat.db.t"
        )
    job4 = pipeline.run_extraction(spark, full, out, run_id="s4")
    assert job4["url_count"] == 0  # s1+s2 cover everything; s3 added none
    assert (
        spark.read.parquet(f"{out}/extracted").select("url").distinct().count()
        == 200
    )


def test_binary_views_large_string_offsets():
    """large_string/large_binary carry int64 offsets — misreading them as
    int32 silently corrupts every payload (review catch)."""
    import pyarrow as pa

    from markmuse_spark.operators.extract import _binary_views

    for t in (pa.large_binary(), pa.large_string(), pa.string()):
        cells = ["hi", "yo", "", "longer payload body"]
        arr = pa.array(cells, type=t)
        got = [bytes(v) for v in _binary_views(arr)]
        assert got == [c.encode() if isinstance(c, str) else c for c in cells], t


def test_sidecar_resume_tolerates_missing_run_dir(spark, tmp_path):
    """A run whose dir was retention-cleaned still has its SUCCESS
    lineage sidecar row; resume follows the _SUCCESS listing, so the
    read neither crashes nor counts the deleted run's urls."""
    import shutil as _sh

    out = str(tmp_path / "out")
    pages = corpus.pages_dataframe(spark, 60, seed=42, partitions=4)
    pipeline.run_extraction(spark, pages, out, run_id="g1")
    pipeline.run_extraction(
        spark,
        corpus.pages_dataframe(spark, 90, seed=42, partitions=4),
        out,
        run_id="g2",
    )
    _sh.rmtree(f"{out}/extracted/run_id=g1")  # retention cleanup
    done = pipeline.committed_urls(spark, out)
    assert done.count() == 30  # g2's increment only; no crash


def test_binary_views_view_types_take_copying_fallback():
    """ADVICE round 5: a binary_view/string_view column (Arrow 14+) has a
    different buffer layout than classic offsets+data — _binary_views
    must detect it and fall back to a copying path (bytes out for both),
    never misread the buffers into corrupt payloads."""
    import pyarrow as pa

    from markmuse_spark.operators.extract import _binary_views

    payloads = [b"%PDF-1.4 x", None, b"\x89PNG\r\n\x1a\nzz", b""]
    bv = pa.array(payloads, type=pa.binary_view())
    got = [None if v is None else bytes(v) for v in _binary_views(bv)]
    assert got == payloads
    sv = pa.array(["<html>a</html>", None, "plain"], type=pa.string_view())
    got_s = [None if v is None else bytes(v) for v in _binary_views(sv)]
    assert got_s == [b"<html>a</html>", None, b"plain"]
