"""Spark extraction operator: ``pages`` DataFrame -> ``extracted`` DataFrame.

The one operator the reference has that Spark lacks (SURVEY §2 A5): the
OCR/layout stage, rebuilt as a vectorized Arrow-batch map over the binary
payload column.  Everything around it (scan, projection, shuffle, write)
stays declarative so Catalyst prunes columns and pushes filters into the
parquet scan — the operator itself selects only ``(url, html)``.

Both markdown operators run through one Arrow runner
(:func:`_extract_arrow`): :func:`extract_markdown` feeds it
``(url, payload)``, and :func:`extract_markdown_enhanced` (A11) adds a
per-url caption map joined on url.  Only the kernel's assembly tail and
the ``n_enhanced`` column differ by mode.  :func:`extract_images` is a
separate 1->N flatten with no error rows and no metrics.

Implementation is ``mapInArrow`` (not ``mapInPandas``): payloads go
arrow -> python bytes -> kernel -> arrow with no intermediate pandas
DataFrame, saving one full materialization of the multi-KB binary column in
each direction per batch — measurable at 10^5 docs/core, decisive at 10^12.

Plan shape (verified in tests via ``explain``): scan -> (optional url-hash
exchange; see plans.pipeline) -> ArrowEvalPython/mapInArrow -> sink.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame

from markmuse_spark.kernel.extract import extract_document


def _binary_views(col) -> list:
    """Per-row ZERO-COPY memoryview slices of an Arrow binary column
    (None for null cells).

    ``to_pylist()`` copies every cell into a fresh Python ``bytes`` —
    a full materialization of the multi-KB payload column per batch
    (round-4 verdict finding).  Arrow's binary layout (an offsets vector
    plus ONE contiguous data buffer) already holds the rows back to
    back, so each row is a memoryview slice of the data buffer: the
    HTML kernel decodes straight from the buffer (``str(view, enc)``),
    and only the PDF kernel — whose byte surgery needs real ``bytes`` —
    materializes its ~20% of payloads, once, at its own entry."""
    import numpy as np
    import pyarrow as pa

    n = len(col)
    if n == 0 or col.null_count == n:
        return [None] * n
    # the offsets+data slicing below is ONLY valid for the classic
    # binary/string layout; a binary_view/string_view column (Arrow 14+,
    # possible from future Spark versions or upstream operators) has a
    # different buffer set and would be silently misread into corrupt
    # payloads — any other type takes the copying fallback instead
    # (bytes out either way: str cells are utf-8 encoded so magic-byte
    # dispatch downstream sees one type)
    t = col.type
    if not (
        pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
    ):
        return [
            v.encode("utf-8") if isinstance(v, str) else v
            for v in col.to_pylist()
        ]
    _validity, offbuf, databuf = col.buffers()
    # string columns share the binary layout (offsets + data) but differ
    # in offset width by large-ness exactly as binary does — misreading
    # int64 offsets as int32 silently interleaves zeros and corrupts
    # every payload, so both large variants must select int64
    large = pa.types.is_large_binary(col.type) or pa.types.is_large_string(col.type)
    odt = np.int64 if large else np.int32
    # honor a possible array-level offset (sliced batches); .tolist()
    # yields plain Python ints once — slicing a memoryview with numpy
    # scalars costs a per-row __index__ round trip
    off = np.frombuffer(offbuf, dtype=odt, count=n + 1 + col.offset)[
        col.offset :
    ].tolist()
    # pyarrow buffers may expose a SIGNED char view (format 'b'), and
    # memoryview equality against bytes literals is FORMAT-sensitive —
    # without the cast, `view[:4] == b"%PDF"` is silently False and
    # every magic-byte dispatch misroutes; cast('B') is zero-copy
    data = (
        memoryview(databuf).cast("B") if databuf is not None else memoryview(b"")
    )
    if col.null_count:
        import pyarrow.compute as pc

        mask = np.asarray(pc.is_valid(col)).tolist()
        return [
            data[off[i] : off[i + 1]] if mask[i] else None for i in range(n)
        ]
    return [data[off[i] : off[i + 1]] for i in range(n)]


class PartitionMetricsParam(AccumulatorParam):
    """Dict accumulator keyed by partition id, one metrics dict per key.

    Merge is last-write-wins per key: a speculatively re-executed or
    retried task overwrites its own partition's entry with identical
    values instead of double-counting (the classic accumulator-in-
    transformation hazard)."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def _extract_arrow(frame: DataFrame, enhanced: bool, metrics_acc) -> DataFrame:
    """The one Arrow runner behind both markdown operators: maps
    :func:`extract_document` over ``frame``'s ``(url, payload)`` columns,
    plus a third ``url -> {img_id: description}`` map column when
    ``enhanced``, with per-row error capture (A19 analog: one bad
    document never kills the job) and the executor partition id recorded
    for the lineage sidecar (A20 analog).

    The output schema is built once here (``n_enhanced`` only in enhanced
    mode); the kernel row's column list and the Spark schema both derive
    from it.

    ``metrics_acc``: optional ``PartitionMetricsParam`` accumulator; when
    given, each task adds its partition's url/ok/err/char/image counts as
    it finishes, so the lineage sidecar comes out of the SAME pass as the
    write — no second scan of the committed output (at 10^12 rows the
    re-read is real money even column-pruned)."""
    import pyarrow as pa  # deferred: resolved on executors too

    from pyspark.sql.pandas.types import from_arrow_schema

    fields = [
        ("url", pa.string()),
        ("markdown", pa.string()),
        ("extracted_text", pa.string()),
        ("n_pages", pa.int32()),
        ("n_images", pa.int32()),
    ]
    if enhanced:
        fields.append(("n_enhanced", pa.int32()))
    fields += [
        ("n_chars", pa.int64()),
        ("error", pa.string()),
        ("partition_id", pa.int32()),
    ]
    schema = pa.schema(fields)
    names = schema.names[:-1]  # the kernel row's keys; partition_id is ours

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        n_rows = n_err = n_partial = sum_chars = sum_images = 0
        for batch in batches:
            urls = batch.column(0).to_pylist()
            payloads = _binary_views(batch.column(1))
            if enhanced:
                # pyarrow map cells arrive as [(k, v), ...] or None; a page
                # with no caption rows still takes the enhanced tail (refs
                # verbatim), so it gets {} — None would select the plain one
                caps = [dict(c) if c else {} for c in batch.column(2).to_pylist()]
            else:
                caps = [None] * len(urls)
            cols: tuple[list, ...] = tuple([] for _ in names)
            for url, payload, cap in zip(urls, payloads, caps):
                row = extract_document(url, payload, cap)
                for col, name in zip(cols, names):
                    col.append(row[name])
                n_rows += 1
                n_err += row["error"] is not None
                # partial-salvage rows (damaged PDFs whose intact pages
                # shipped) are a SUBSET of err_count — split out so an
                # operator dashboard can tell "kept with disclosure"
                # from "dead row" at a glance
                n_partial += (row["error"] or "").startswith(
                    "PartialExtraction:"
                )
                sum_chars += row["n_chars"]
                sum_images += row["n_images"]
            arrays = [pa.array(c, type=schema.field(i).type) for i, c in enumerate(cols)]
            arrays.append(pa.array([pid] * len(urls), type=pa.int32()))
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)
        if metrics_acc is not None and n_rows:
            metrics_acc.add(
                {
                    pid: {
                        "url_count": n_rows,
                        "ok_count": n_rows - n_err,
                        "err_count": n_err,
                        "partial_count": n_partial,
                        "sum_chars": sum_chars,
                        "sum_images": sum_images,
                    }
                }
            )

    return frame.mapInArrow(run, from_arrow_schema(schema))


def extract_markdown(
    pages: DataFrame,
    url_col: str = "url",
    payload_col: str = "html",
    metrics_acc=None,
) -> DataFrame:
    """Map the extraction kernel over (url, payload): one row per document
    with its markdown, counts, error and partition id (see
    :func:`_extract_arrow` for error capture and ``metrics_acc``)."""
    return _extract_arrow(pages.select(url_col, payload_col), False, metrics_acc)


def deterministic_captions(pages: DataFrame, max_images_per_page: int = 4,
                           url_col: str = "url") -> DataFrame:
    """CLEARLY-MARKED FAKE captioner (the reference's LLM seam,
    markmuse.py:462-503): one deterministic md5-derived description per
    (url, default image id).  Swap for a real captioning job on a cluster
    with model access — the enhanced assembly tail is agnostic to the
    caption source."""
    from pyspark.sql import functions as F

    ks = F.explode(
        F.sequence(F.lit(1), F.lit(max_images_per_page))
    ).alias("k")
    with_k = pages.select(F.col(url_col).alias("url")).distinct().select("url", ks)
    img_id = F.format_string("img-p1-%d.png", F.col("k"))
    return with_k.select(
        "url",
        img_id.alias("img_id"),
        F.concat(
            F.lit("synthetic caption "),
            F.substring(F.md5(F.concat(F.col("url"), F.lit("|"), img_id)), 1, 12),
        ).alias("description"),
    )


def extract_markdown_enhanced(
    pages: DataFrame,
    captions: DataFrame,
    url_col: str = "url",
    payload_col: str = "html",
    metrics_acc=None,
) -> DataFrame:
    """A11 enhanced mode as a Spark operator: extraction + caption-injecting
    assembly in one Arrow pass; the columns of :func:`extract_markdown`
    plus ``n_enhanced`` after ``n_images``.

    ``captions``: DataFrame ``(url, img_id, description)`` — the output of
    a (separate) captioning job.  It is grouped to one map per url and
    joined on url; at 10^12 rows this is a shuffle join co-partitioned on
    url (captions are small per url, never a cross product).  Pages without
    captions take the left-outer path (nothing enhanced, refs verbatim)."""
    from pyspark.sql import functions as F

    cap_map = captions.groupBy(url_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("img_id", "description"))
        ).alias("_captions")
    )
    joined = pages.select(url_col, payload_col).join(cap_map, url_col, "left")
    return _extract_arrow(joined, True, metrics_acc)


def extract_images(
    pages: DataFrame, url_col: str = "url", payload_col: str = "html"
) -> DataFrame:
    """The images OUTPUT table (A8/A14): one row per kept image with the
    payload as a ``binary`` column — the Spark-native form of the
    reference's ``{stem}_images/`` side files (markmuse.py:436-451,
    s3_storage.py:469-492).  1->N flatten happens inside the Arrow pass
    (a document yields its image rows directly); partition by url prefix
    or date at the sink for 10^12-scale layouts."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import from_arrow_schema

    from markmuse_spark.kernel.extract import extract_pages_sniffed
    from markmuse_spark.kernel.markdown_assembly import extract_images_one

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("page_idx", pa.int32()),
            ("img_idx", pa.int32()),
            ("img_id", pa.string()),
            ("safe_filename", pa.string()),
            ("rel_path", pa.string()),
            ("content_type", pa.string()),
            ("n_bytes", pa.int64()),
            ("data", pa.binary()),
        ]
    )
    names = schema.names

    def run(batches):
        for batch in batches:
            urls = batch.column(0).to_pylist()
            payloads = _binary_views(batch.column(1))
            out: dict[str, list] = {n: [] for n in names}
            for url, payload in zip(urls, payloads):
                if not payload:
                    continue
                try:
                    # same sniffed dispatch as the markdown job — the
                    # images table must see the same document set
                    pgs = extract_pages_sniffed(payload)
                    rows = extract_images_one(url, pgs)
                except Exception:
                    continue  # per-row error capture is the markdown job's
                for r in rows:
                    for n in names:
                        out[n].append(r[n])
            yield pa.RecordBatch.from_arrays(
                [pa.array(out[n], type=schema.field(n).type) for n in names],
                schema=schema,
            )

    return pages.select(url_col, payload_col).mapInArrow(
        run, from_arrow_schema(schema)
    )
