"""Deduplication operators for the training-data pipeline.

Four families, all DataFrame-native where possible (JVM-side expressions;
Python only where the JVM form is interpreted — shingling, MinHash and
SimHash run as vectorized-numpy Arrow passes):

* :func:`exact_duplicates` — hash-groupBy on normalized text
* :func:`ngram_jaccard_pairs` — exact n-gram Jaccard via an inverted-index
  self-join (shuffle on shingle); the DuckDB-oracled ground truth
* :func:`minhash_lsh_pairs` — one ``mapInArrow`` pass computes shingles,
  MinHash signatures (k permutations of an XXH64 base hash) and the
  per-band LSH keys -> banded candidate generation -> exact-Jaccard
  verification of candidates only.  The scale path: at 10^12 docs the
  candidate join shuffles band keys (bytes/doc), never text.
* :func:`simhash` / :func:`simhash_near_pairs` — 64-bit SimHash with
  banded Hamming-distance candidate generation

Scale notes: shingle->doc lists are the classic skew source (stopword-only
shingles appear everywhere); ``max_df`` drops shingles occurring in more
than a fraction of documents before the join — the standard inverted-index
frequency cap.

Hashing: shingle base hashes are XXH64 seed 42 in vectorized numpy
(:mod:`markmuse_spark.operators.xxh64`, bit-identical to Spark's
``xxhash64``, deterministic across executors/runs); MinHash permutations
are seeded multiply-add bijections over Z_2^64; SimHash feature hashes
are md5-derived (hashlib == DuckDB == Spark, so the output is
independently oracle-able).

A round-2 measurement note that shapes this module: Spark higher-order
-function expressions (transform/aggregate/filter lambdas) are INTERPRETED
— never whole-stage-codegen'd — so shingling and per-permutation array
math as JVM expressions cost milliseconds per document.  The hot paths
here therefore run as Arrow-batched Python passes (3-8x faster measured),
while joins, grouping and verification set-intersections stay JVM-side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# safe at module level: similarity's own dedup import is function-local
from markmuse_spark.operators.similarity import (
    DEFAULT_WARN_BUCKET_SIZE,
    _drop_oversized_buckets,
    _observe_oversized_buckets,
)
from markmuse_spark.operators.xxh64 import xxh64


def normalized_fingerprint(text_col: str = "text"):
    """C-style document fingerprint: md5 of lower/whitespace-collapsed text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: fingerprint groups (hash-groupBy; map-side combine)."""
    return (
        docs.select(F.col(id_col), normalized_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def _default_parallelism(spark) -> int:
    """Target UDF width, Spark-Connect-safe.  ``sparkContext`` raises
    ``PySparkAttributeError`` under Connect (round-7 review finding: the
    unguarded access crashed plan builds); fall back to the
    shuffle-partition conf — the session's own statement of how wide an
    exchange should be."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        try:
            return max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
        except Exception:
            return 200  # Spark's shuffle-partition default


def _parallelize_for_udf(df: DataFrame) -> DataFrame:
    """At least default-parallelism partitions before an expensive Arrow
    UDF.  A small parquet input arrives as FEW scan partitions
    (``files.maxPartitionBytes`` yields one partition per ~128 MB), and
    a narrow UDF stage inherits that — measured at sf0.1: the shingle
    UDF ran on ONE core of 32 and dominated the whole minhash query
    (5.1 s of 6.1 s).  Round-robin repartition of the slim (id, text)
    projection costs one small shuffle and buys full-width UDF
    execution.

    The one exception is a scan that is provably at least as wide as
    the cluster, so at 10^12 docs (thousands of files) no extra shuffle
    ever happens.  Spark packs files into scan partitions charging every
    file at least ``files.openCostInBytes`` and capping a split at
    ``files.maxPartitionBytes`` (``FilePartition.maxSplitBytes``), so a
    scan of ``>= maxPartitionBytes/openCost * target`` files (32x target
    at the defaults) has at least ``target`` partitions.  The file list
    comes from ``df.inputFiles()`` — the logical plan alone, never
    ``df.rdd`` (round-5 wart: the RDD probe converted the whole plan to
    RDD lineage on every plan build) and never a per-file size call.  A
    frame with no file provenance (persisted intermediates,
    ``createDataFrame``) takes the repartition."""
    spark = df.sparkSession
    target = _default_parallelism(spark)
    try:
        n_files = len(df.inputFiles())
    except Exception:  # exotic plans (pure streaming sources): be wide
        n_files = 0
    from markmuse_spark.operators.similarity import _parse_byte_conf

    max_split = max(1, _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    ))
    open_cost = max(1, _parse_byte_conf(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    ))
    if n_files * open_cost >= target * max_split:
        return df
    return df.repartition(target)


#: seed of the MinHash permutation family (multipliers and offsets)
_MINHASH_SEED = 12345


def _shingle_batch(batch, n: int):
    """Shingle one ``(doc_id, text)`` Arrow batch: lower, split on ' ',
    drop empty tokens, ``' '``-joined word n-grams, distinct in
    first-occurrence order — the semantics the d_ngram_jaccard DuckDB
    oracle pins.  Documents with no shingle (NULL, or fewer than ``n``
    tokens) are dropped here, not by a later filter.

    Returns the kept ``(doc_id, shingles)`` as Arrow arrays."""
    import pyarrow as pa

    keep: list = []
    offsets = [0]
    flat: list = []
    for i, t in enumerate(batch.column(1).to_pylist()):
        if t is None:
            continue
        toks = [w for w in t.lower().split(" ") if w]
        if len(toks) < n:
            continue
        flat.extend(
            dict.fromkeys(" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1))
        )
        keep.append(i)
        offsets.append(len(flat))
    return (
        batch.column(0).take(pa.array(keep, pa.int64())),
        pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(flat, pa.string())),
    )


def _minhash(values, offsets, num_perm: int) -> np.ndarray:
    """(docs, num_perm) int64 MinHash signatures of the shingle lists
    ``offsets`` cuts the Arrow string array ``values`` into (every list
    non-empty).

    Base hashes are XXH64 seed 42 of the UTF-8 bytes — bit-identical to
    Spark's ``xxhash64``.  Permutations are seeded multiply-add
    bijections over Z_2^64 (odd multipliers, uint64 wraparound, which
    ANSI-mode JVM arithmetic forbids); the minimum is taken in unsigned
    order and returned reinterpreted as int64.  A min under a fixed
    total order of a random bijection is a valid MinHash permutation
    family.  One permutation at a time keeps memory at O(shingles)."""
    rng = np.random.default_rng(_MINHASH_SEED)
    a = (rng.integers(0, 2**62, size=num_perm, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    _, str_offsets, data = values.buffers()
    so = np.frombuffer(str_offsets, np.int32, len(values) + 1)
    hs = xxh64(np.frombuffer(data, np.uint8), so[:-1], np.diff(so)).view(np.uint64)
    starts = np.asarray(offsets[:-1], dtype=np.int64)
    sig = np.empty((num_perm, len(starts)), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(num_perm):
            sig[j] = np.minimum.reduceat(hs * a[j] + b[j], starts)
    return np.ascontiguousarray(sig.T).view(np.int64)


def _band_keys(sig: np.ndarray, bands: int) -> np.ndarray:
    """(docs, bands) int64 LSH band keys: XXH64 of each band's slice of
    ``num_perm // bands`` signature values (their little-endian bytes).
    Equal slices give equal keys; a key collision between unequal slices
    only adds a candidate, which exact verification then rejects."""
    n_docs, num_perm = sig.shape
    rows = num_perm // bands
    starts = (
        np.arange(n_docs)[:, None] * num_perm + np.arange(bands)[None, :] * rows
    ).ravel() * 8
    return xxh64(
        sig.view(np.uint8).ravel(), starts, np.full(starts.size, 8 * rows)
    ).reshape(n_docs, bands)


def _slim(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(doc_id, _t)`` projection a shingle pass reads, spread over
    enough partitions (:func:`_parallelize_for_udf`)."""
    return _parallelize_for_udf(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    )


def _shingled(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, shingles) with empty-shingle docs dropped, in ONE
    ``mapInArrow`` pass.

    Shingling runs in Python, NOT as a JVM higher-order-function
    expression: HOFs are interpreted (never codegen'd), and the measured
    cost of the expression form was ~2.3 ms/doc — 10-30x the Python
    loop.  Empty documents are dropped inside the pass, never by a
    ``size(shingles) > 0`` filter: Spark pushes such a filter below a
    UDF projection (and below the round-robin exchange), evaluating the
    UDF twice per document."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    slim = _slim(docs, id_col, text_col)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                list(_shingle_batch(batch, n)), names=["doc_id", "shingles"]
            )

    return slim.mapInArrow(run, StructType(
        [slim.schema["doc_id"], StructField("shingles", ArrayType(StringType()))]
    ))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    ``max_df``: optional frequency cap — shingles present in more than
    ``max_df`` documents are dropped before the join (skew control at
    scale; changes semantics, so default off and the oracle matches).
    """
    sh = _shingled(docs, id_col, text_col, n)
    # carry the per-doc shingle count through the explode: the set size is
    # constant within each (doc_a, doc_b) group, so first() recovers it and
    # no post-aggregation join with a sizes table is needed (one scan, one
    # shuffle on shingle, one shuffle on the pair key)
    inv = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("shingle"),
    )
    if max_df is not None:
        hot = (
            inv.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        inv = inv.join(F.broadcast(hot), "shingle", "left_anti")
    a = inv.alias("a")
    b = inv.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("n_inter"),
            F.first(F.col("a.n_sh")).alias("n_a"),
            F.first(F.col("b.n_sh")).alias("n_b"),
        )
    )
    # threshold the UNROUNDED value (the DuckDB oracle does the same);
    # rounding is presentation-only on the projected column — filtering on
    # a rounded value would keep/drop boundary pairs differently per engine
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        pairs.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_band_size: int | None = None,
    warn_band_size: int | None = DEFAULT_WARN_BUCKET_SIZE,
) -> DataFrame:
    """Banded-LSH candidate pairs, verified with exact Jaccard.

    rows/band = num_perm/bands; candidate iff any band hash collides.
    The verification joins back to the shingle arrays so the reported
    ``jaccard`` is exact (only over candidates — at 10^12 docs this is the
    whole point: pairwise work collapses to per-bucket work).

    ``max_band_size``: degenerate-bucket guard (the banded analog of
    ``max_df``, same shape as the hyperplane miner's
    ``max_bucket_size``).  A boilerplate-identical cluster of m docs
    shares every band hash and yields O(m^2) candidate rows PER BAND
    with nothing bounding it; with the cap set, (band_id, band_hash)
    groups larger than the cap are counted over the persisted frame,
    dropped via broadcast anti-join, and logged.  Default off (exported
    oracles run uncapped); pairs all of whose shared bands are oversized
    are lost — for a true duplicate CLUSTER that loss is usually
    acceptable (exact dedup catches identical docs first), which is why
    the cap composes with :func:`exact_duplicates` upstream.

    ``warn_band_size``: DEFAULT-ON warn-only observability: logs any
    (band_id, band_hash) group over the soft threshold and drops
    nothing — the exported oracles are byte-identical with it on.  Not
    cheap: it adds a group count over the band keys with its own
    exchange, a broadcast join-back and a ``CollectMetrics`` node to one
    side of the self-join, about 20% of the MinHash stage (ROADMAP open
    item "The default-on LSH band warn").  ``None`` disables.

    Shingles, MinHash signatures and band keys come from ONE
    ``mapInArrow`` pass (:func:`_shingle_batch`, :func:`_minhash`,
    :func:`_band_keys` — vectorized numpy over the whole batch, so no
    second Python stage and no interpreted ``transform(xxhash64)``), whose
    ``(doc_id, shingles, bands)`` frame is the only thing persisted
    (memory-with-disk spill): the band explode feeding both self-join
    sides (and the guard/warn aggregates) and both verification joins
    read it, and without the persist Spark recomputes the Python pass
    per branch (no common-subplan elimination across self-joins).
    Carrying the shingle arrays *through* the banded candidate join
    instead would shuffle ~``bands``x the shingle bytes per doc — the
    wrong trade at 10^12 docs, where candidates shuffle band keys, never
    shingle sets.  At production scale the frame would be staged to a
    table once; the cache is the single-session equivalent.  The persist
    is TRACKED: one-shot jobs leave it to LRU eviction, and a long-lived
    session wraps calls in :func:`markmuse_spark.plans.cache.cache_scope`
    to unpersist after consuming the result.  Building the plan triggers
    no Spark job unless ``max_band_size`` is set.
    """
    from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

    from markmuse_spark.plans.cache import tracked_persist

    slim = _slim(docs, id_col, text_col)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            ids, shingles = _shingle_batch(batch, n)
            keys = (
                _band_keys(
                    _minhash(shingles.values, shingles.offsets.to_numpy(), num_perm),
                    bands,
                )
                if len(ids) else np.empty((0, bands), dtype=np.int64)
            )
            yield pa.RecordBatch.from_arrays(
                [ids, shingles, pa.ListArray.from_arrays(
                    pa.array(np.arange(0, keys.size + 1, bands, dtype=np.int32)),
                    pa.array(keys.ravel()),
                )],
                names=["doc_id", "shingles", "bands"],
            )

    sh = tracked_persist(slim.mapInArrow(run, StructType([
        slim.schema["doc_id"],
        StructField("shingles", ArrayType(StringType())),
        StructField("bands", ArrayType(LongType())),
    ])))
    banded = sh.select(
        "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
    )
    if max_band_size is not None:
        banded = _drop_oversized_buckets(
            banded,
            ["band_id", "band_hash"],
            max_band_size,
            "minhash_lsh_pairs",
            param_name="max_band_size",
        )
    # warn-only observability rides ONE side of the self-join (a
    # group count over the band keys, its exchange and a broadcast
    # join-back + CollectMetrics; no extra action, the warn fires on the
    # caller's own first action): at 100 TB a boilerplate-identical
    # cluster must be announced, not discovered from a melted shuffle
    # stage.  No rows dropped, oracles unchanged.  Not free: ~20% of the
    # MinHash stage (ROADMAP open item "The default-on LSH band warn").
    a_side = banded
    if warn_band_size is not None:
        a_side = _observe_oversized_buckets(
            banded, ["band_id", "band_hash"], warn_band_size,
            "minhash_lsh_pairs",
        )
    a = a_side.alias("a")
    b = banded.alias("b")
    # candidate dedup is folded into the exchange that feeds the verify
    # join: repartitioning on doc_a alone still satisfies the duplicate-
    # elimination aggregate's clustering requirement (equal (doc_a,doc_b)
    # rows co-locate under any hash of doc_a), and the aggregate's output
    # partitioning then ALSO satisfies the first verification join's
    # requirement — one exchange where `.distinct()` before the join cost
    # two (pair-key exchange + join-key exchange).  The trade: band-
    # collision duplicates (<= `bands` rows per pair, 16 bytes each) ride
    # the shuffle instead of being combined map-side — cheaper than a
    # whole extra exchange of the deduped pair set at every scale.
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .repartition(F.col("doc_a"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union  # threshold unrounded; round only the projection
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "markdown",
) -> DataFrame:
    """C4-style GLOBAL line deduplication: every distinct non-blank line
    keeps exactly ONE occurrence corpus-wide — the first in ``(id, line
    position)`` order — and later occurrences are removed (C4 removed
    repeated lines this way to strip cross-document boilerplate before
    training).  Blank lines are structural, never deduplicated.

    Returns ``(id, text_clean, n_kept, n_removed)`` with ``text_clean``
    the surviving lines re-joined in original order.

    Scale shape: the keeper per line comes from ``groupBy(line).agg(min(
    struct(id, pos)))`` — a hash aggregate with map-side combine, so a
    boilerplate line occurring in every one of 10^12 documents partially
    aggregates on each executor instead of hot-spotting one reducer (the
    window-function formulation, ``row_number() over (partition by
    line)``, would shuffle every occurrence of the hottest line to a
    single partition — exactly the skew this avoids).  The join back on
    ``line`` is a plain equi-join AQE's skew handling covers; at extreme
    corpus sizes join on ``xxhash64(line)`` instead to shrink shuffle
    bytes (not done here: the text key keeps the result independently
    oracle-able, and 64-bit birthday collisions at 10^12 lines are small
    but not zero).

    ``docs`` is read by two plan branches (the line explode and the
    keeper aggregate): pass a materialized table, or persist a derived
    input first — Spark does not share subplans across self-joins, so a
    derived input would otherwise recompute per branch.
    """
    # NULL text is treated as the empty document (one blank line): split
    # of NULL is NULL and posexplode(NULL) emits NOTHING, which would
    # silently drop the whole row from the output — a contract violation
    # for pipelines that count or join on the result
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
        ).alias("pos", "line"),
    )
    keepers = (
        lines.filter(F.col("line") != "")
        .groupBy("line")
        .agg(
            F.min(
                F.struct(F.col("_id").alias("i"), F.col("pos").alias("p"))
            ).alias("first_at")
        )
    )
    marked = lines.join(keepers, "line", "left").withColumn(
        "keep",
        (F.col("line") == "")
        | (
            (F.col("first_at.i") == F.col("_id"))
            & (F.col("first_at.p") == F.col("pos"))
        ),
    )
    kept_struct = F.when(F.col("keep"), F.struct("pos", "line"))
    return (
        marked.groupBy("_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    # collect_list drops the nulls the when() leaves for
                    # removed lines; pos is unique per doc so the struct
                    # sort restores original order exactly
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line"],
                ),
            ).alias("text_clean"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_removed"),
        )
        .withColumnRenamed("_id", id_col)
    )


def md5_long_expr(col):
    """64-bit signed feature hash from md5 (first 8 bytes, big-endian) as a
    JVM expression.  Chosen over ``xxhash64`` for SimHash because md5 is
    reproducible in every engine (hashlib, DuckDB, Spark), which makes the
    banded SimHash output independently oracle-able
    (:mod:`markmuse_spark.golden.query_fixtures`); ~2x slower per feature —
    swap back to ``xxhash64`` at scale when cross-engine parity is not
    needed."""
    u = F.conv(F.substring(F.md5(col), 1, 16), 16, 10).cast("decimal(20,0)")
    two63 = F.lit("9223372036854775808").cast("decimal(20,0)")
    two64 = F.lit("18446744073709551616").cast("decimal(21,0)")
    return F.when(u >= two63, u - two64).otherwise(u).cast("long")


def near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    exact: bool = False,
    max_df: int | None = None,
) -> DataFrame:
    """User-facing near-dup pair API.  DEFAULTS TO THE LSH PATH
    (:func:`minhash_lsh_pairs`): banded candidates, exact-Jaccard verify —
    the only shape that survives 10^12 documents.  ``exact=True`` switches
    to the inverted-index self-join (:func:`ngram_jaccard_pairs`), the
    ground-truth/oracle form; use it only at small scale or with ``max_df``
    set (unbounded, every stopword shingle is a hot join key).

    ``max_df`` applies ONLY to the exact path (it caps the inverted
    index's hot shingles; the LSH path has no inverted index — its skew
    control is the banded signature join itself), so supplying it with
    ``exact=False`` raises rather than silently ignoring the cap."""
    if exact:
        return ngram_jaccard_pairs(
            docs, id_col, text_col, n, threshold, max_df=max_df
        )
    if max_df is not None:
        raise ValueError(
            "max_df is an inverted-index frequency cap; it has no effect "
            "on the LSH path — pass exact=True to use it"
        )
    return minhash_lsh_pairs(docs, id_col, text_col, n, threshold=threshold)


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """64-bit SimHash over word n-gram shingle features, one Arrow-batched
    UDF from text to signature: tokenize/shingle (same semantics the
    d_ngram_jaccard oracle pins), md5-derived 64-bit feature hashes
    (hashlib — byte-identical to :func:`md5_long_expr` and to the
    independent fixture oracle in golden/query_fixtures.py), vectorized
    numpy bit votes.  Docs with < n tokens get signature 0 (and therefore
    pair with each other — reference-free but fixture-pinned semantics).

    Single-UDF form chosen by measurement: the earlier JVM shingle +
    ``transform(md5->conv->decimal)`` expression chain ran interpreted
    (higher-order functions are never codegen'd) and cost ~6 ms/doc;
    this form is ~0.2 ms/doc.  Shingle features (not unigrams) keep the
    feature space large enough that near-identical documents land within
    a few bits even over small vocabularies.

    The per-shingle work is one ``md5(...).digest()`` C call (the
    irreducible parity floor — md5 is what hashlib, DuckDB and the
    fixture oracle all reproduce); everything downstream is vectorized
    per document: one ``np.frombuffer`` over the concatenated digests
    replaces per-shingle ``int.from_bytes``, and ``np.unpackbits`` +
    a single int32 row-sum replace the uint64 broadcast shift (measured
    7x faster than the shift for the bit matrix; ~17% off the whole
    UDF).  Full-batch ``reduceat``/``cumsum`` segment forms were
    measured SLOWER than this per-doc loop (0.7-1.4s vs 0.41s for 5k
    docs) and allocate O(batch_shingles x 64) — rejected."""
    import hashlib

    import numpy as np
    import pandas as pd

    md5 = hashlib.md5
    # unpackbits is MSB-first per byte, so column k of the bit matrix is
    # bit (63-k) of the big-endian 64-bit feature hash: pack the
    # signature back with DESCENDING weights to keep byte-identical
    # parity with the md5_long_expr / fixture-oracle bit convention
    w_desc = np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64)

    def _simhash(texts):
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if not t:
                continue
            toks = [w for w in t.lower().split(" ") if w]
            if len(toks) < n:
                continue
            sh = dict.fromkeys(
                " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
            )
            buf = b"".join(md5(s.encode("utf-8")).digest() for s in sh)
            u8 = np.frombuffer(buf, dtype=np.uint8).reshape(-1, 16)[:, :8]
            bits = np.unpackbits(u8, axis=1)
            votes = bits.sum(axis=0, dtype=np.int32) * 2 - len(sh)
            sig = ((votes > 0).astype(np.uint64) * w_desc).sum(dtype=np.uint64)
            out[i] = sig.astype(np.int64)
        return pd.Series(out)

    _simhash.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    _simhash = F.pandas_udf(_simhash, "long")

    slim = _parallelize_for_udf(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    )
    return slim.select("doc_id", _simhash(F.col("_t")).alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded: with 8 x 8-bit
    bands, any pair within Hamming<=7 shares at least one exact band
    (pigeonhole) — candidates via band equi-join, verified exactly.

    The signature frame is persisted (tracked — see
    :mod:`markmuse_spark.plans.cache`): BOTH sides of the band self-join
    read it, and Spark shares no subplans across self-joins, so without
    the persist the simhash UDF runs twice over the corpus (measured
    ~0.7 s per extra pass at sf0.1 — the same double-compute minhash_lsh
    fixed in round 3)."""
    from markmuse_spark.plans.cache import tracked_persist

    sig = tracked_persist(simhash(docs, id_col, text_col))
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * 8).bitwiseAND(F.lit(0xFF))
                    for b in range(8)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
