"""Similarity search over an embedding column (``array<float>``).

* :func:`cosine_topk` — brute-force cosine top-k against a query vector.
  All math is JVM-side (``zip_with`` + ``aggregate`` sequential double
  fold) so results are bit-stable and oracle-comparable.
* :func:`lsh_bucketed_topk` — the scale path: deterministic random-
  hyperplane signatures (seeded numpy planes derived on each task,
  vectorized matmul in one ``mapInArrow`` pass), candidates from the
  query's bucket within a Hamming radius, exact cosine re-rank of
  candidates only.  At 10^12 vectors the bucket join touches a tiny
  candidate set instead of every row; brute force stays as the ground
  truth / small-side path.
* :func:`embedding_near_pairs` — all-pairs near-duplicate detection by
  cosine (embedding-space dedup), exact via self-join; at scale the same
  LSH bucketing bounds the pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _parse_byte_conf(v) -> int:
    """Spark size-conf string to bytes (``'10485760'``, ``'10MB'``,
    ``'1g'``, ``'-1'`` all occur in the wild for
    ``autoBroadcastJoinThreshold``); negative passes through (disabled)."""
    s = str(v).strip().lower()
    for suffix, mult in (
        ("tb", 2**40), ("gb", 2**30), ("mb", 2**20), ("kb", 2**10),
        ("t", 2**40), ("g", 2**30), ("m", 2**20), ("k", 2**10), ("b", 1),
    ):
        if s.endswith(suffix):
            return int(s[: -len(suffix)]) * mult
    return int(s)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_expr(a, b):
    """Cosine similarity between two array<double> columns (JVM fold)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    vectors: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by cosine against the vector with ``query_id``.

    The 1-row query side is broadcast; the scan side is one pass, no
    shuffle until the final top-k (which Spark executes as a partial
    per-partition top-k + single merge — TakeOrderedAndProject).

    Deliberate deviation from the rank-on-unrounded rule the LSH forms
    follow: this op is DuckDB-oracled, and bit-parity of the UNROUNDED
    float fold across two engines is not a contract anyone offers —
    near-tied candidates could order differently at the LIMIT boundary.
    The rounded sort key + id tiebreak IS the deterministic cross-engine
    ordering contract here (the fixture-oracled LSH forms rank unrounded
    because their pure-Python replica reproduces Spark's fold exactly)."""
    # norms are per-vector quantities: compute them once on the scan side
    # (and once for the broadcast query row), never per pair
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
    ).withColumn("nrm", _norm(F.col("vec")))
    q = v.filter(F.col(id_col) == query_id).select(
        F.col("vec").alias("qvec"), F.col("nrm").alias("qnrm")
    )
    return (
        v.join(F.broadcast(q))
        .filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(
                _dot(F.col("vec"), F.col("qvec")) / (F.col("nrm") * F.col("qnrm")), 4
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_assign(
    vectors: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[DataFrame, list]":
    """IVF INDEX BUILD (the one-time pass): assign every vector to its
    nearest sampled centroid.  Returns ``(assigned, centroids)`` where
    ``assigned`` is ``(id, vec, nrm, bucket)`` and ``centroids`` is the
    driver-side ``[(cvec, cnrm), ...]`` list a probe needs.

    **Coarse quantizer (training-free).** The centroid set is the
    vectors of the ``n_centroids`` ids with the smallest ``md5(id)`` —
    the same deterministic pseudo-random device as the train/valid/test
    split; a sampled quantizer is the standard cheap IVF bootstrap and
    costs no iterative k-means job.  Collecting it is a BOUNDED driver
    action (``n_centroids`` rows).

    **Assignment is pure codegen** — argmax over ``n_centroids`` inline
    JVM cosine folds against literal centroid arrays; no UDF, no
    shuffle.  It is ~``n_centroids``x the per-row cost of one dot
    product, which is why it belongs in the INDEXING job: at warehouse
    scale you run it once and persist ``assigned`` PARTITIONED BY
    ``bucket``, and every later probe prunes to
    ~``n_probe / n_centroids`` of the data.  The one-shot composition
    (:func:`ivf_topk`) pays assignment inline and exists for the oracle
    and for ad-hoc queries, not as the steady-state scale path.

    Zero-norm vectors are EXCLUDED up front (a zero vector has no
    direction, no nearest centroid, and would propagate NULL through
    every cosine)."""
    import math

    v = (
        vectors.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
        )
        .withColumn("nrm", _norm(F.col("vec")))
        .filter(F.col("nrm") > 0)
    )

    cents = (
        v.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .select("vec")
        .collect()
    )
    centroids = []
    for r in cents:
        c = [float(x) for x in r["vec"]]
        centroids.append((c, math.sqrt(_fold_dot(c, c))))
    if not centroids:
        return v.withColumn("bucket", F.lit(None).cast("long")), []

    sims = F.array(*[
        _dot(F.col("vec"), _lit_vec(c)) / (F.col("nrm") * F.lit(cn))
        for c, cn in centroids
    ])
    # first-max-wins (array_position), 1-based bucket id
    assigned = v.withColumn(
        "bucket", F.array_position(sims, F.array_max(sims))
    )
    return assigned, centroids


def ivf_probe_topk(
    assigned: DataFrame,
    centroids: list,
    query_id: int,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF PROBE over a built index (:func:`ivf_assign`): rank the
    query against its ``n_probe`` nearest buckets only.  When
    ``assigned`` is persisted partitioned by ``bucket``, the ``isin``
    filter is partition pruning — the probe reads
    ~``n_probe / n_centroids`` of the index.

    Final ranking matches :func:`cosine_topk` exactly (rounded-cosine
    sort key, id tiebreak; the query-norm literal is a strict left
    fold, bit-identical to the JVM's) — with
    ``n_probe >= len(centroids)`` every bucket is probed and the
    result EQUALS the brute-force top-k over the index's (non-zero-
    norm) vectors, which is the pytest exactness oracle."""
    import math

    if not centroids:
        raise ValueError(f"query id {query_id} not found (empty index)")
    if not 1 <= n_probe <= len(centroids):
        raise ValueError("need 1 <= n_probe <= len(centroids)")
    qrow = assigned.filter(F.col(id_col) == query_id).select("vec").first()
    if qrow is None:
        raise ValueError(f"query id {query_id} not found")
    qvec = [float(x) for x in qrow["vec"]]
    qnrm = math.sqrt(_fold_dot(qvec, qvec))
    qcos = [
        _fold_dot(qvec, c) / (qnrm * cn) for c, cn in centroids
    ]
    probes = [
        j + 1
        for j in sorted(
            range(len(centroids)), key=lambda j: (-qcos[j], j)
        )[:n_probe]
    ]
    return (
        assigned.filter(F.col("bucket").isin(probes))
        .filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(
                _dot(F.col("vec"), _lit_vec(qvec))
                / (F.col("nrm") * F.lit(qnrm)),
                4,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    vectors: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-shot IVF ANN: :func:`ivf_assign` + :func:`ivf_probe_topk` in
    a single plan.  Pays the assignment pass inline — use the split
    form with a persisted, bucket-partitioned index for the steady-
    state scale path (see :func:`ivf_assign`)."""
    if not 1 <= n_probe <= n_centroids:
        raise ValueError("need 1 <= n_probe <= n_centroids")
    assigned, centroids = ivf_assign(
        vectors, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    return ivf_probe_topk(
        assigned, centroids, query_id, k=k,
        n_probe=min(n_probe, len(centroids)) if centroids else n_probe,
        id_col=id_col,
    )


def ivf_batch_topk(
    assigned: DataFrame,
    centroids: list,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch IVF probe over a built index (:func:`ivf_assign`): many
    queries at once, fully distributed — no per-query driver work.

    The query side computes its own top-``n_probe`` buckets as a pure
    codegen expression (``array_sort`` over ``(-cosine, bucket)``
    structs against the literal centroid set, sliced and exploded), so
    the probe is ONE ``bucket`` equi-join between the exploded query
    frame and the index — the same grouped-probe shape as
    :func:`lsh_batch_topk`, with partition pruning when the index is
    persisted partitioned by ``bucket``.  Candidates are exact-cosine
    re-ranked with a per-query top-k window (rounded sort key, id
    tiebreak — the :func:`cosine_topk` ordering contract).

    ``queries`` carries ``(id, vec)`` in the index's shape — pass a
    filtered slice of ``assigned`` (or any frame with the same two
    columns).  Self-matches (query id == candidate id) are dropped.

    Returns ``(query_id, cand_id, cosine)``."""
    if not centroids:
        raise ValueError("empty index (no non-zero-norm vectors)")
    if not 1 <= n_probe <= len(centroids):
        raise ValueError("need 1 <= n_probe <= len(centroids)")
    from pyspark.sql import Window as W

    if "vec" not in queries.columns:
        raise ValueError("queries must carry a 'vec' column (ivf_assign shape)")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
    ).withColumn("qnrm", _norm(F.col("qvec"))).filter(F.col("qnrm") > 0)
    # per-query probe buckets: sort (-cos, bucket) structs, slice, explode
    sims = F.array(*[
        F.struct(
            (-(_dot(F.col("qvec"), _lit_vec(c))
               / (F.col("qnrm") * F.lit(cn)))).alias("neg"),
            F.lit(j + 1).alias("b"),
        )
        for j, (c, cn) in enumerate(centroids)
    ])
    probes = q.withColumn(
        "bucket",
        F.explode(
            F.transform(
                F.slice(F.array_sort(sims), 1, n_probe), lambda st: st["b"]
            )
        ),
    ).select("query_id", "qvec", "qnrm", "bucket")
    cand = (
        probes.join(assigned, "bucket")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("cand_id"),
            F.round(
                _dot(F.col("vec"), F.col("qvec"))
                / (F.col("nrm") * F.col("qnrm")),
                4,
            ).alias("cosine"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("cand_id")
        )
    )
    return (
        cand.withColumn("_rn", rn)
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", F.col("cosine").desc(), "cand_id")
    )


def _fold_dot(a, b) -> float:
    """Strict left-to-right float64 fold — F.aggregate's order, so a
    driver-side norm literal is bit-identical to the JVM's fold."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _lit_vec(c):
    return F.array(*[F.lit(float(x)) for x in c])


def _vec_dim(vectors: DataFrame, vec_col: str) -> int | None:
    """Vector width from the first NON-NULL row (one tiny driver-side
    action; the isNotNull filter matters — a leading NULL row would
    otherwise silently disable the pinning and reopen the per-side
    inference mode the pin exists to prevent).  Returns None only when
    the frame has no non-null vector at all, in which case every
    downstream signature batch is empty anyway.

    Multi-input LSH operators MUST resolve one dim up front and pass it
    to every :func:`lsh_signatures` call: letting each side infer its own
    width would let mismatched query/corpus vectors join across
    incompatible hash spaces and yield NULL cosines instead of the loud
    shape error a width bug deserves."""
    row = vectors.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    return len(row[0]) if row is not None else None


def lsh_signatures(
    vectors: DataFrame,
    n_tables: int = 8,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Multi-table random-hyperplane LSH signatures (``array<long>``, one
    bucket id per table), in one ``mapInArrow`` pass that carries
    ``id_col`` and ``vec_col`` through unchanged.

    Planes are a seeded numpy ``(dim, n_tables*n_planes)`` matrix built
    once per task: generation is a pure function of ``(seed, dim)``, so
    every task on every executor derives the identical matrix.  ``dim``
    is resolved up front (from the caller, else self-pinned via
    :func:`_vec_dim`) and EVERY vector is checked against it, so a
    ragged-width frame fails fast instead of hashing different widths
    into incompatible plane spaces.  All signatures come from one
    vectorized matmul per Arrow batch over the vectors' own element
    dtype — no per-row Python.  A NULL vector gets NULL ``buckets``:
    it explodes to no bucket row and is never a candidate, as its NULL
    cosine never passes the brute-force forms' thresholds.  Multiple
    independent tables are the standard recall amplifier (OR over
    tables) when neighbor cosines are modest."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    if dim is None:
        # self-pin: one tiny driver-side action resolves the frame's
        # width from its first non-null vector, and every vector on every
        # executor is then checked against it — a GLOBAL raggedness
        # guard (an earlier per-task closure memory missed widths that
        # split cleanly across partitions).  Returns None only for a
        # frame with no non-null vectors, whose buckets are all NULL.
        # Callers that already resolved a width (every multi-input
        # operator) pass dim and skip the action.
        dim = _vec_dim(vectors, vec_col)

    def run(batches):
        import numpy as np
        import pyarrow as pa

        d = dim or 0  # no width: every vector is NULL
        planes = np.random.default_rng(seed).standard_normal((d, n_tables * n_planes))
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        for batch in batches:
            vecs = batch.column(1)
            live = vecs.drop_null()
            widths = live.value_lengths().to_numpy()
            if (widths != d).any():
                raise ValueError(
                    f"expected {dim}-dim vectors, got {widths[widths != d][0]}"
                )
            mat = live.flatten().to_numpy(zero_copy_only=False).reshape(len(live), d)
            bits = (mat @ planes) > 0  # (live, tables*planes)
            per_table = bits.reshape(len(live), n_tables, n_planes) @ weights
            ok = vecs.is_valid().to_numpy(zero_copy_only=False)
            offsets = np.zeros(len(vecs) + 1, dtype=np.int32)
            np.cumsum(ok * n_tables, out=offsets[1:])
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), vecs, pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(per_table.ravel()), mask=pa.array(~ok)
                )],
                names=[id_col, vec_col, "buckets"],
            )

    from markmuse_spark.operators.dedup import _parallelize_for_udf

    # same narrow-scan guard as the text passes: a small parquet input is
    # one scan partition and would run the matmul on one core
    wide = _parallelize_for_udf(vectors.select(F.col(id_col), F.col(vec_col)))
    return wide.mapInArrow(run, StructType([
        wide.schema[id_col],
        wide.schema[vec_col],
        StructField("buckets", ArrayType(LongType())),
    ]))


def lsh_bucketed_topk(
    vectors: DataFrame,
    query_id: int,
    k: int = 10,
    n_tables: int = 8,
    n_planes: int = 8,
    hamming_radius: int = 1,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: a vector is a candidate when, in ANY table, its
    bucket is within ``hamming_radius`` bits of the query's; candidates are
    re-ranked by exact cosine.

    This is the broadcast-query form (one query, scan-side filter).  The
    batch form at 10^12 vectors groups by ``(table, bucket)`` and joins
    queries to probe buckets — same signatures, different join shape."""
    dim = _vec_dim(vectors, vec_col)  # pin one width for every batch
    sigs = lsh_signatures(vectors, n_tables, n_planes, seed, id_col, vec_col, dim)
    q = sigs.filter(F.col(id_col) == query_id).select(
        F.col("buckets").alias("qbuckets"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    joined = sigs.join(F.broadcast(q)).filter(F.col(id_col) != query_id)
    any_table_close = F.exists(
        F.zip_with(
            F.col("buckets"),
            F.col("qbuckets"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)) <= hamming_radius,
        ),
        lambda x: x,
    )
    # rank on the UNROUNDED cosine (round only the projection); the
    # fixture oracle's pure-Python replica uses the same strict left-fold,
    # so the unrounded sort keys are bit-identical across both
    return (
        joined.filter(any_table_close)
        .select(
            F.col(id_col),
            cosine_expr(
                F.col(vec_col).cast("array<double>"), F.col("qvec")
            ).alias("_cos"),
        )
        .orderBy(F.col("_cos").desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("_cos", 4).alias("cosine"))
    )


#: default soft threshold for the ALWAYS-ON warn-only bucket
#: observability (:func:`_warn_oversized_buckets`): a (table, bucket) /
#: (band_id, band_hash) group this large is 2-4 orders of magnitude over
#: any healthy expected size and the self-join over it is melting —
#: at 100 TB the operator must SAY so even when no drop cap is set
DEFAULT_WARN_BUCKET_SIZE = 10_000

#: driver-side safety bound on the collected hot-key set in
#: :func:`_drop_oversized_buckets`: above this many oversized groups the
#: guard switches to a shuffle anti-join instead of materializing the
#: keys on the driver (a tiny cap on skewed data — e.g. cap=1 — would
#: otherwise collect up to one row per group and OOM the driver in
#: exactly the degenerate scenario the guard targets)
MAX_COLLECTED_HOT_KEYS = 100_000


#: waiter threads parked on not-yet-executed observed plans (see
#: :func:`_observe_oversized_buckets`); :func:`drain_bucket_warnings`
#: joins the finished ones so tests (and shutdown hooks) can flush
#: deterministically
_PENDING_BUCKET_WARNS: list = []
#: parked-waiter bound (round-7 review): threads waiting on plans that
#: never execute cannot be cancelled (``Observation.get`` has no
#: timeout), so a long-lived driver building many abandoned plans must
#: not accumulate one OS thread each forever — beyond this many LIVE
#: waiters, new observations ship without a waiter (the metrics node
#: stays in the plan; only the log side-channel is skipped)
_MAX_PENDING_BUCKET_WARNS = 64
_ATEXIT_REGISTERED = False
#: slot exhaustion is announced at WARNING exactly once per process
#: (round-7 advice: a DEBUG line silently disabled the default-on warn
#: observability for the rest of the driver's life); waiters parked on
#: never-executed plans cannot be reclaimed (``Observation.get`` has no
#: timeout), so the honest move is to say loudly that the side-channel
#: is saturated while the metrics nodes themselves keep shipping
_SLOTS_WARNED = False


def _observe_oversized_buckets(
    frame: DataFrame, keys: list[str], soft_cap: int, op_name: str
) -> DataFrame:
    """Default-on, warn-ONLY degenerate-bucket observability with no extra
    Spark action (round-7 ask #7; round 6 ran an eager ``.first()`` at
    plan-construction time — one blocking job per miner call).

    Returns ``frame`` left-joined to a broadcast of its oversized groups
    (a group count over ``keys``, with its own exchange, filtered to
    groups above ``soft_cap``) plus a ``CollectMetrics`` node, and a
    :class:`~pyspark.sql.Observation` whose metrics materialize during
    the CALLER's first action.  The count, exchange and join-back run
    inside that action and cost ~20% of the MinHash stage (ROADMAP open
    item "The default-on LSH band warn").  A daemon waiter thread parks
    on ``Observation.get`` and logs when any group exceeds ``soft_cap``.
    Never drops rows, so the exported oracles are byte-identical with it
    on — the point is that a 100 TB run with a zero-vector cluster or a
    boilerplate-identical document cluster TELLS the operator it is
    melting instead of silently shuffling O(m^2) candidate rows.

    The observed frame must feed exactly ONE side of the self-join (an
    Observation may appear once per plan); a waiter on a plan that is
    never executed parks until process exit (``Observation.get`` has no
    timeout), so live waiters are BOUNDED at
    ``_MAX_PENDING_BUCKET_WARNS`` and an ``atexit`` drain flushes fired
    warns that would otherwise race interpreter teardown."""
    import logging
    import threading

    from pyspark.sql import Observation

    obs = Observation()
    # round-8 shape: the per-group count no longer rides a Window — the
    # Window's required Exchange+Sort of the whole frame cost ~1.3 s per
    # miner call at sf0.1 (the self-join it was meant to share an
    # exchange with plans as a BROADCAST join on any healthy-sized
    # input, so nothing was reused).  Instead, group counts are
    # aggregated over the (already persisted) frame, FILTERED to the
    # oversized groups — normally an EMPTY set — and broadcast-joined
    # back.  Metrics are unchanged: `over_rows` counts rows whose group
    # exceeds the cap (null `_grp_n` from the left join means healthy),
    # and when any group is oversized the global max IS oversized, so
    # `mx` over the joined column equals the old window's global max
    # whenever the warn fires (when nothing is oversized `mx` is null
    # and unused).  The aggregate is map-side-combinable (one row per
    # group, never per input row) and the broadcast is empty-to-tiny by
    # construction — cheaper than the window at every scale, still zero
    # extra ACTIONS (the broadcast subtree materializes inside the
    # caller's own first action).
    over = (
        frame.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_grp_n"))
        .filter(F.col("_grp_n") > soft_cap)
    )
    observed = (
        frame.join(F.broadcast(over), keys, "left")
        .observe(
            obs,
            F.max("_grp_n").alias("mx"),
            F.sum((F.col("_grp_n") > soft_cap).cast("long")).alias("over_rows"),
        )
        .select(*frame.columns)  # the using-join moved the keys first
    )

    def _wait_and_log() -> None:
        try:
            stats = obs.get  # blocks until the caller's first action
        except Exception:  # session torn down before any action
            return
        if stats and (stats.get("over_rows") or 0) > 0:
            logging.getLogger(__name__).warning(
                "%s: %d row(s) sit in bucket group(s) that exceed the "
                "soft size threshold %d (largest group: %d members) — "
                "the candidate self-join over these groups is quadratic; "
                "set the drop cap (max_bucket_size / max_band_size) to "
                "bound it, or raise warn_bucket_size to silence this",
                op_name, stats["over_rows"], soft_cap, stats["mx"],
            )

    # lifecycle (round-7 review): prune finished waiters on every call,
    # bound the live ones, and flush at interpreter exit so a one-shot
    # driver that quits right after its action still logs the warn
    # (daemon threads are killed before their logging call otherwise)
    _PENDING_BUCKET_WARNS[:] = [
        w for w in _PENDING_BUCKET_WARNS if w.is_alive()
    ]
    global _ATEXIT_REGISTERED
    if not _ATEXIT_REGISTERED:
        import atexit

        atexit.register(drain_bucket_warnings, 2.0)
        _ATEXIT_REGISTERED = True
    if len(_PENDING_BUCKET_WARNS) >= _MAX_PENDING_BUCKET_WARNS:
        global _SLOTS_WARNED
        if not _SLOTS_WARNED:
            _SLOTS_WARNED = True
            logging.getLogger(__name__).warning(
                "%s: %d bucket-warn waiters parked on never-executed "
                "plans — the waiter pool is saturated and further "
                "oversized-bucket warns will NOT be logged this process "
                "(metrics nodes still attach; call drain_bucket_warnings "
                "after actions, or stop building abandoned miner plans)",
                op_name, len(_PENDING_BUCKET_WARNS),
            )
        else:
            logging.getLogger(__name__).debug(
                "%s: %d bucket-warn waiters already parked on unexecuted "
                "plans; observing without a log waiter", op_name,
                len(_PENDING_BUCKET_WARNS),
            )
        return observed
    t = threading.Thread(
        target=_wait_and_log, daemon=True, name=f"bucket-warn-{op_name}"
    )
    t.start()
    _PENDING_BUCKET_WARNS.append(t)
    return observed


def drain_bucket_warnings(timeout: float = 30.0) -> None:
    """Join finished bucket-warn waiter threads (best-effort, bounded):
    after an action over an observed miner plan, guarantees the warn —
    which fires on a daemon thread — has been logged.  Threads parked on
    never-executed plans are skipped, not waited out."""
    import time

    deadline = time.monotonic() + timeout
    for t in list(_PENDING_BUCKET_WARNS):
        t.join(timeout=max(0.0, deadline - time.monotonic()))
        if not t.is_alive():
            _PENDING_BUCKET_WARNS.remove(t)


def _drop_oversized_buckets(
    frame: DataFrame,
    keys: list[str],
    cap: int,
    op_name: str,
    param_name: str = "max_bucket_size",
) -> DataFrame:
    """Drop every group of ``frame`` whose member count exceeds ``cap``,
    logging how many groups were dropped (drop-and-log, never silent).

    Shared by the LSH pair miners' degenerate-bucket guards.  ``frame``
    must already be persisted by the caller: the size aggregate reads
    it, and the action below would otherwise recompute the signature
    pass.  With a SANE cap the hot-group set is tiny by construction
    (groups holding more than ``cap`` of n rows number at most n/cap),
    so it is collected ONCE — the same job yields the log count and the
    driver-side key list the broadcast anti-join probe is rebuilt from.
    The collect is BOUNDED at :data:`MAX_COLLECTED_HOT_KEYS` (one
    ``limit`` past the bound, never an unbounded materialization): a
    degenerate cap on skewed data — the exact scenario the guard exists
    for — falls back to a shuffle anti-join against the aggregate
    instead of OOMing the driver."""
    import logging

    log = logging.getLogger(__name__)
    hot_df = (
        frame.groupBy(*keys)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > cap)
        .select(*keys)
    )
    hot_rows = hot_df.limit(MAX_COLLECTED_HOT_KEYS + 1).collect()
    if not hot_rows:
        return frame
    if len(hot_rows) > MAX_COLLECTED_HOT_KEYS:
        log.warning(
            "%s: more than %d bucket group(s) exceed %s=%d — hot-key set "
            "is too large to broadcast; dropping them via a shuffle "
            "anti-join instead (degenerate-bucket guard; pairs confined "
            "to dropped buckets are lost)",
            op_name, MAX_COLLECTED_HOT_KEYS, param_name, cap,
        )
        # recomputes the size aggregate over the persisted frame — the
        # price of not holding >100k keys on the driver
        return frame.join(hot_df, keys, "left_anti")
    log.warning(
        "%s: dropping %d bucket(s) larger than %s=%d "
        "before pair mining (degenerate-bucket guard; pairs confined "
        "to dropped buckets are lost)",
        op_name, len(hot_rows), param_name, cap,
    )
    hot = frame.sparkSession.createDataFrame(hot_rows)
    return frame.join(F.broadcast(hot), keys, "left_anti")


def lsh_pair_candidates(
    vectors: DataFrame,
    n_tables: int = 32,
    n_planes: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket_size: int | None = None,
    warn_bucket_size: int | None = DEFAULT_WARN_BUCKET_SIZE,
) -> DataFrame:
    """Candidate pairs from a ``(table_id, bucket)`` EQUI-join over
    hyperplane-LSH signatures — the scale shape for embedding pair mining.

    Unlike the all-pairs theta join (``id_a < id_b`` = a cartesian with a
    filter, O(n^2) shuffled rows), this shuffles each row once per table on
    its bucket key; pairwise work happens only within buckets.  At 10^12
    vectors bucket sizes are bounded by choosing ``n_planes`` ~ log2(n /
    target_bucket_size), so the join output is ~n * bucket_size * n_tables,
    not n^2.

    ``n_planes`` bounds the EXPECTED bucket size; it does not bound a
    DATA-DEPENDENT degenerate bucket — zero vectors (which land in one
    bucket in every table) or a boilerplate-identical document cluster
    produce one O(bucket^2) hot bucket that no plane count fixes.
    ``max_bucket_size`` is the cap for that case (the bucket-space
    analog of the inverted index's ``max_df``): per-(table, bucket)
    member counts are taken over the already-persisted bucket frame
    (one cheap aggregate, no extra scan of the vectors), oversized
    buckets are dropped via a broadcast anti-join before the self-join,
    and the drop is LOGGED with the bucket count — never silent.
    Semantics change (pairs whose every shared bucket is oversized are
    lost), so the default is off and the exported oracles run uncapped;
    at 100 TB a cap ~100x the expected bucket size costs ~0 recall and
    bounds the worst bucket's join output.

    ``warn_bucket_size``: DEFAULT-ON warn-only observability
    (:data:`DEFAULT_WARN_BUCKET_SIZE`): a group count over the join
    keys, its exchange and a broadcast join-back + ``CollectMetrics`` on
    one self-join side (see :func:`_observe_oversized_buckets` for its
    cost); the warn logs on the caller's first action over the result.
    No rows dropped, oracles unchanged; ``None`` disables."""
    if dim is None:
        dim = _vec_dim(vectors, vec_col)  # pin one width for every batch
    sigs = lsh_signatures(vectors, n_tables, n_planes, seed, id_col, vec_col, dim)
    # both sides of the self-join read the exploded bucket frame, and
    # Spark shares no subplans across self-joins: persist (tracked) so
    # the signature pass + explode run once, not per side
    from markmuse_spark.plans.cache import tracked_persist

    b = tracked_persist(
        sigs.select(
            F.col(id_col), F.posexplode("buckets").alias("table_id", "bucket")
        )
    )
    if max_bucket_size is not None:
        b = _drop_oversized_buckets(
            b, ["table_id", "bucket"], max_bucket_size, "lsh_pair_candidates"
        )
    # warn-only observability rides ONE side of the self-join (group
    # count over the join keys + broadcast join-back + CollectMetrics; no
    # extra action, the warn fires on the caller's own first action)
    a_side = b
    if warn_bucket_size is not None:
        a_side = _observe_oversized_buckets(
            b, ["table_id", "bucket"], warn_bucket_size, "lsh_pair_candidates"
        )
    a_, b_ = a_side.alias("a"), b.alias("b")
    # candidate dedup folds into the exchange that feeds the verify join
    # (same shape as minhash_lsh_pairs): hash-partitioning on id_a alone
    # satisfies the duplicate-elimination aggregate's clustering
    # requirement AND the downstream id_a join's — one exchange where
    # `.distinct()` cost a pair-key exchange plus a join-key exchange
    return (
        a_.join(
            b_,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .repartition(F.col("id_a"))
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.45,
    n_tables: int = 32,
    n_planes: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket_size: int | None = None,
    warn_bucket_size: int | None = DEFAULT_WARN_BUCKET_SIZE,
) -> DataFrame:
    """Bucketed near-duplicate pair mining: LSH candidates (equi-join),
    exact-cosine verification of candidates only — output is a subset of
    the exact all-pairs result by construction; recall is the LSH knob.
    ``max_bucket_size`` (drop cap, off by default) and
    ``warn_bucket_size`` (warn-only observability, ON by default) pass
    through to :func:`lsh_pair_candidates`'s degenerate-bucket guards.

    Parameter honesty: a hyperplane agrees on a cos-0.45 pair with
    p = 1 - acos(0.45)/pi ~ 0.65 vs 0.5 for a random pair, so near the
    test corpus's 0.45 threshold few planes + many tables are needed for
    recall ~1 and bucket selectivity is weak.  At production near-dup
    thresholds (cos >= 0.85: p ~ 0.82) selectivity is real — use
    ``n_planes`` 12-16 there.  The SHAPE (equi-join on (table, bucket),
    never a theta join) is what survives 10^12 rows."""
    cand = lsh_pair_candidates(
        vectors, n_tables, n_planes, seed, id_col, vec_col, dim,
        max_bucket_size=max_bucket_size, warn_bucket_size=warn_bucket_size,
    )
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
    ).withColumn("nrm", _norm(F.col("vec")))
    va = v.select(
        F.col(id_col).alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("n_a")
    )
    vb = v.select(
        F.col(id_col).alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("n_b")
    )
    cos = _dot(F.col("vec_a"), F.col("vec_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(cos >= threshold)
        .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
    )


def lsh_batch_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = 8,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_broadcast_probes: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """Batch ANN: many queries at once via a grouped ``(table_id, bucket)``
    probe — the join form :func:`lsh_bucketed_topk`'s docstring promises.

    The query side expands each bucket to its Hamming-radius-1 multiprobe
    set JVM-side (bucket XOR each single plane bit), so the data side needs
    only an exact equi-join — no per-pair Hamming evaluation, no broadcast
    of the full query set's signatures beyond the exploded probe keys.
    Candidates are deduped per (query, candidate) and exact-cosine
    re-ranked with a per-query top-k window.

    ``max_broadcast_probes``: the probe frame holds ``n_queries *
    n_tables * (n_planes + 1)`` rows EACH CARRYING the query vector —
    broadcasting it unconditionally would let a large query batch blow
    the driver/executor broadcast memory with nothing failing over.  The
    query side is therefore counted up front (one tiny action on a frame
    whose whole point is to be bounded) and the probe join falls back to
    a plain shuffle join above the cap — same rows, same result, shuffle
    cost instead of broadcast memory.  The DEFAULT (``None``) derives
    the cap from the session's ``spark.sql.autoBroadcastJoinThreshold``
    divided by the OBSERVED probe-row width (``8 * dim`` vector bytes +
    key/id overhead), so wide query vectors automatically shrink the
    row budget instead of relying on a fixed row count that silently
    encodes an assumed width (round-5 footgun); a session that disabled
    auto-broadcast (threshold ``-1``) always takes the shuffle join.
    Pass an explicit row count to override.  ``n_queries``: pass the
    known query count to skip the sizing ``count()`` — worth it when
    the query frame derives from an expensive un-persisted lineage,
    which the count would otherwise evaluate once just to pick the join
    strategy (and at construction time, before any caller action)."""
    from pyspark.sql import Window

    if dim is None:
        # ONE width, resolved from the data side and enforced on BOTH
        # signature passes: per-side inference would join mismatched
        # query/corpus widths across incompatible hash spaces (NULL
        # cosines) instead of raising the shape error the bug deserves
        dim = _vec_dim(vectors, vec_col)
    if max_broadcast_probes is None:
        thr = _parse_byte_conf(
            vectors.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
        )
        # per-probe-row estimate: the double vector (8B/element) + the
        # (query_id, table_id, bucket) longs + per-row array overhead
        row_bytes = 8 * (dim or 0) + 48
        max_broadcast_probes = max(0, thr) // row_bytes
    sigs = lsh_signatures(vectors, n_tables, n_planes, seed, id_col, vec_col, dim)
    data = sigs.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).cast("array<double>").alias("cand_vec"),
        F.posexplode("buckets").alias("table_id", "bucket"),
    )
    qsigs = lsh_signatures(queries, n_tables, n_planes, seed, id_col, vec_col, dim)
    probes = F.array(
        F.col("qbucket"),
        *[F.col("qbucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
    )
    qprobe = (
        qsigs.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
            F.posexplode("buckets").alias("table_id", "qbucket"),
        )
        .select(
            "query_id", "qvec", "table_id", F.explode(probes).alias("bucket")
        )
    )
    if n_queries is None:
        n_queries = queries.count()
    n_probe_rows = n_queries * n_tables * (n_planes + 1)
    probe_side = (
        F.broadcast(qprobe) if n_probe_rows <= max_broadcast_probes else qprobe
    )
    cand = (
        data.join(probe_side, ["table_id", "bucket"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "qvec", "cand_id", "cand_vec")
        .dropDuplicates(["query_id", "cand_id"])
    )
    # rank on the UNROUNDED cosine (rounding first lets two truly-distinct
    # scores tie at 4 decimals and swap near-boundary order via the
    # cand_id tiebreak); rounding is presentation-only on the projection —
    # the same rule every other operator in this package follows
    cos = cosine_expr(F.col("cand_vec"), F.col("qvec"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("cand_id")
    )
    return (
        cand.select("query_id", "cand_id", cos.alias("_cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", F.round("_cos", 4).alias("cosine"))
    )


def embedding_near_pairs(
    vectors: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine near-duplicates (embedding-space dedup).

    This is the ORACLE/ground-truth path (O(n^2) theta join) — route
    production pair mining through :func:`embedding_near_pairs_lsh`."""
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
    ).withColumn("nrm", _norm(F.col("vec")))  # per-vector, never per-pair
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("n_a")
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("n_b")
    )
    # threshold the UNROUNDED cosine (matching the oracle's WHERE clause);
    # round only the projected output column
    cos = _dot(F.col("vec_a"), F.col("vec_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(cos >= threshold)
        .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
    )
