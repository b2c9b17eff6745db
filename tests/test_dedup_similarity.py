"""Semantic checks for the dedup/similarity scale paths against their
exact counterparts on the sf0.01 tables (which contain planted near-dups)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from markmuse_spark.operators import dedup, similarity

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def exact_pairs(docs):
    rows = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    return {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}


def test_corpus_has_planted_near_dups(exact_pairs):
    assert len(exact_pairs) >= 5
    assert max(exact_pairs.values()) > 0.9


def test_minhash_lsh_matches_exact_at_high_threshold(docs, exact_pairs):
    # 64 perms / 16 bands: P(candidate) = 1-(1-j^4)^16 -> >0.9997 at j>=0.7;
    # every exact pair at j>=0.7 must surface, with the identical jaccard
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    want = {k: v for k, v in exact_pairs.items() if v >= 0.7}
    assert want, "expected planted pairs above 0.7"
    for k, v in want.items():
        assert k in lsh, f"LSH missed high-jaccard pair {k} (j={v})"
        assert lsh[k] == v  # verification recomputes the same exact jaccard
    # and no false positives relative to the exact join
    assert set(lsh) <= set(exact_pairs)


def test_xxh64_matches_spark_xxhash64(spark):
    """The numpy XXH64 behind the MinHash base hashes is bit-identical to
    Spark's ``xxhash64`` (seed 42, UTF-8 bytes) on every branch of the
    algorithm: the byte tail, the 4-byte word, 8-byte words and the
    32-byte stripe loop, over 1- to 4-byte UTF-8 characters."""
    import random

    import numpy as np
    import pyarrow as pa

    from markmuse_spark.operators.xxh64 import xxh64

    rng = random.Random(11)
    byte_lengths = [0, 1, 3, 4, 7, 8, 31, 32, 33, 63, 64, 100, 257, 1000]
    strs = [
        "".join(rng.choice("abcxyz 0189.,") for _ in range(k))
        for k in byte_lengths for _ in range(4)
    ]
    strs += [
        "".join(rng.choice("aé中😀ß €\u00a0🎉") for _ in range(rng.randrange(140)))
        for _ in range(400)
    ]
    arr = pa.array(strs, pa.string())
    offs = np.frombuffer(arr.buffers()[1], np.int32, len(strs) + 1)
    assert set(byte_lengths) <= set(np.diff(offs).tolist())
    got = xxh64(np.frombuffer(arr.buffers()[2], np.uint8), offs[:-1], np.diff(offs))
    df = spark.createDataFrame(list(enumerate(strs)), "i int, s string")
    want = [r[0] for r in df.orderBy("i").select(F.xxhash64("s")).collect()]
    assert got.tolist() == want


def test_fused_pass_signatures_match_two_stage_reference(docs):
    """The fused pass's per-doc MinHash signatures equal the previous
    two-stage form, rebuilt here as the reference: Spark's interpreted
    ``transform(shingles, xxhash64)`` base hashes, then seeded numpy
    multiply-add permutations with an unsigned min.  Band keys collide
    exactly when the band's signature slices are equal."""
    import numpy as np
    import pyarrow as pa

    base = {
        r["doc_id"]: r["hs"]
        for r in dedup._shingled(docs, "doc_id", "text", 3)
        .select("doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs"))
        .collect()
    }
    rng = np.random.default_rng(12345)
    a = (rng.integers(0, 2**62, size=64, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, size=64, dtype=np.uint64)
    with np.errstate(over="ignore"):
        want = {
            d: (np.asarray(hs, np.int64).astype(np.uint64)[:, None] * a + b)
            .min(axis=0).view(np.int64).tolist()
            for d, hs in base.items()
        }

    batch = pa.RecordBatch.from_pylist(
        [r.asDict() for r in docs.select("doc_id", "text").collect()]
    )
    ids, shingles = dedup._shingle_batch(batch, 3)
    sig = dedup._minhash(shingles.values, shingles.offsets.to_numpy(), 64)
    assert dict(zip(ids.to_pylist(), sig.tolist())) == want

    # band keys: equal exactly when the band's signature slice is equal
    keys = dedup._band_keys(sig, 16)
    slices = sig.reshape(len(sig), 16, 4)
    same_slice = (slices[:, None] == slices[None]).all(axis=-1)
    assert same_slice.sum() > len(sig) * 16  # some cross-doc band collisions
    assert ((keys[:, None] == keys[None]) == same_slice).all()


def test_shingle_and_lsh_passes_run_python_once(docs):
    """A ``_shingled`` frame has exactly one Python-eval node (a pandas-UDF
    projection with a ``size > 0`` filter had the filter pushed below it
    and evaluated the UDF twice).  The LSH plan's only Python node is the
    fused mapInArrow, printed once per scan of its one persisted frame:
    no interpreted ``transform(xxhash64)``, no second ArrowEvalPython."""
    import re as _re

    def python_nodes(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        nodes = _re.findall(
            r"(?:ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas)\b.*", plan
        )
        return plan, nodes

    _, nodes = python_nodes(dedup._shingled(docs, "doc_id", "text", 3))
    assert len(nodes) == 1 and nodes[0].startswith("MapInArrow")
    plan, nodes = python_nodes(dedup.minhash_lsh_pairs(docs, threshold=0.5))
    assert "xxhash64" not in plan
    assert len(set(nodes)) == 1 and nodes[0].startswith("MapInArrow")


def test_simhash_banded_search_is_exact(docs, exact_pairs):
    # the banded candidate join must find EXACTLY the pairs within the
    # Hamming radius (8 bands of 8 bits guarantee recall for <=7; radius 6)
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    ids = sorted(sigs)
    mask = (1 << 64) - 1
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sigs[a] ^ sigs[b]) & mask).count("1")
            if h <= 6:
                want[(a, b)] = h
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(docs, max_hamming=6).collect()
    }
    assert got == want
    # and the radius is meaningful: it flags most planted near-identicals
    near_identical = {k for k, v in exact_pairs.items() if v >= 0.95}
    assert len(near_identical & set(got)) >= len(near_identical) * 0.7


def test_exact_duplicates_shape(docs):
    out = dedup.exact_duplicates(docs)
    assert out.columns == ["fingerprint", "n_docs", "keep_id"]
    total = out.agg(F.sum("n_docs")).first()[0]
    assert total == docs.count()


def test_lsh_ann_overlaps_brute_force(vectors):
    brute = [r["vec_id"] for r in similarity.cosine_topk(vectors, 0, k=10).collect()]
    ann = [r["vec_id"] for r in similarity.lsh_bucketed_topk(vectors, 0, k=10).collect()]
    # approximate search: require half the true top-10 in the ANN top-10
    assert len(set(brute) & set(ann)) >= 5, (brute, ann)


def test_ann_cosines_are_exact_for_returned_ids(vectors):
    brute = {
        r["vec_id"]: r["cosine"]
        for r in similarity.cosine_topk(vectors, 0, k=100).collect()
    }
    for r in similarity.lsh_bucketed_topk(vectors, 0, k=10).collect():
        if r["vec_id"] in brute:
            assert r["cosine"] == brute[r["vec_id"]]


def test_simhash_deterministic_across_partitionings(spark, docs):
    one = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs.repartition(1)).collect()}
    many = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs.repartition(13)).collect()}
    assert one == many


def test_embedding_near_pairs_lsh_equals_exact(vectors):
    """The bucketed pair miner (equi-join candidates + exact verify) must
    find every exact pair on this corpus — the recall gate for the
    10^12-scale default path."""
    exact = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.embedding_near_pairs(vectors).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.embedding_near_pairs_lsh(vectors).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_lsh_batch_topk_recall_floor(vectors):
    """Batch ANN vs per-query brute force.  This corpus is LSH-hostile
    (neighbor cosines 0.24-0.37 ~ noise level, hyperplane agreement
    p ~ 0.55-0.6), so the floor is modest; measured mean recall 0.68."""
    got: dict[int, set] = {}
    batch = similarity.lsh_batch_topk(
        vectors, vectors.filter(F.col("vec_id") < 5), k=5
    ).collect()
    for r in batch:
        got.setdefault(r.query_id, set()).add(r.cand_id)
    recalls = []
    for q in range(5):
        bf = {
            r.vec_id
            for r in similarity.cosine_topk(vectors, query_id=q, k=5).collect()
        }
        recalls.append(len(bf & got.get(q, set())) / 5)
    assert sum(recalls) / len(recalls) >= 0.5
    # re-rank is exact: every returned cosine matches the brute-force value
    bf0 = {r.vec_id: r.cosine for r in similarity.cosine_topk(vectors, 0, k=500).collect()}
    for r in batch:
        if r.query_id == 0:
            assert bf0[r.cand_id] == r.cosine


def test_near_duplicates_default_is_lsh(docs, exact_pairs):
    """The user-facing API routes through the banded-LSH path by default
    and matches the exact relation on this corpus."""
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.near_duplicates(docs).collect()
    }
    assert got == {(a, b, j) for (a, b), j in exact_pairs.items()}


def test_near_duplicates_rejects_max_df_on_lsh_path(docs):
    """max_df is an inverted-index cap; silently ignoring it on the LSH
    path (the round-2 behavior) hid a semantic no-op from callers."""
    with pytest.raises(ValueError, match="exact=True"):
        dedup.near_duplicates(docs, max_df=5)


def test_line_dedup_semantics(spark):
    """Global first-occurrence-wins line dedup: blanks always kept,
    duplicate non-blank lines keep only their first (id, pos) occurrence
    — including repeats WITHIN one document."""
    rows = [
        ("a", "header\n\nbody a\nshared"),
        ("b", "header\n\nbody b\nshared\nshared"),
        ("c", "unique only"),
    ]
    df = spark.createDataFrame(rows, "url string, markdown string")
    got = {
        r["url"]: r
        for r in dedup.line_dedup(df, "url", "markdown").collect()
    }
    assert got["a"]["text_clean"] == "header\n\nbody a\nshared"
    assert (got["a"]["n_kept"], got["a"]["n_removed"]) == (4, 0)
    # doc b loses 'header', both 'shared' copies; blank survives
    assert got["b"]["text_clean"] == "\nbody b"
    assert (got["b"]["n_kept"], got["b"]["n_removed"]) == (2, 3)
    assert got["c"]["text_clean"] == "unique only"
    assert got["c"]["n_removed"] == 0


def test_line_dedup_null_text_is_empty_document(spark):
    """NULL text must not vanish from the output (posexplode of a NULL
    split emits nothing) — it is the empty document: one blank line."""
    df = spark.createDataFrame(
        [("a", "x"), ("b", None)], "url string, markdown string"
    )
    got = {r["url"]: r for r in dedup.line_dedup(df, "url", "markdown").collect()}
    assert set(got) == {"a", "b"}
    assert got["b"]["text_clean"] == ""
    assert (got["b"]["n_kept"], got["b"]["n_removed"]) == (1, 0)


def test_cache_scope_releases_tracked_persists(docs):
    """Long-lived-session lifecycle: every frame an operator persists
    inside a cache_scope (minhash's one fused shingle/band frame plus
    simhash's signature frame) must be registered while cached and
    unpersisted at exit."""
    from markmuse_spark.plans.cache import cache_scope

    with cache_scope() as reg:
        dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
        dedup.simhash_near_pairs(docs).collect()
        assert len(reg) == 2
        assert all(df.storageLevel.useMemory for df in reg)
    assert all(not df.storageLevel.useMemory for df in reg)
    assert all(not df.storageLevel.useDisk for df in reg)


def test_cache_scope_nests_and_is_optional(docs):
    """Outside any scope tracked_persist behaves exactly like persist
    (nothing to release eagerly); nested scopes release independently."""
    from markmuse_spark.plans.cache import cache_scope, tracked_persist

    df = tracked_persist(docs.select("doc_id"))  # no active scope
    assert df.storageLevel.useMemory
    df.unpersist()
    with cache_scope() as outer:
        tracked_persist(docs.select("doc_id", "text"))
        with cache_scope() as inner:
            idf = tracked_persist(docs.select("text"))
            assert inner == [idf]
        assert not idf.storageLevel.useMemory  # inner released first
        assert len(outer) == 1 and outer[0].storageLevel.useMemory
    assert not outer[0].storageLevel.useMemory


def test_lsh_dim_inferred_from_batch(spark):
    """Vectors of any width work without caller plumbing: 16-dim vectors
    flow through signatures / pair mining / batch ANN, and the LSH pair
    miner still finds exactly the exact-threshold pairs; an explicit
    wrong `dim` override fails fast."""
    import numpy as np
    import pytest as _pytest

    from markmuse_spark.operators import similarity as sim

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = []
    for i in range(60):
        if i % 3 == 0:  # planted near-dups of base
            v = base + rng.standard_normal(16) * 0.12
        else:
            v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sigs = sim.lsh_signatures(df).collect()
    assert all(len(r["buckets"]) == 8 for r in sigs)
    exact = {
        (r["id_a"], r["id_b"])
        for r in sim.embedding_near_pairs(df, threshold=0.8).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in sim.embedding_near_pairs_lsh(df, threshold=0.8).collect()
    }
    assert exact and got == exact
    with _pytest.raises(Exception, match="expected 64-dim"):
        sim.lsh_signatures(df, dim=64).collect()


def test_lsh_batch_topk_mismatched_widths_fail_loudly(spark):
    """Query vectors of a different width than the corpus must raise a
    shape/width error — never join across incompatible hash spaces and
    return NULL cosines (the silent-wrongness mode the width pinning
    exists to prevent)."""
    import numpy as np
    import pytest as _pytest

    from markmuse_spark.operators import similarity as sim

    rng = np.random.default_rng(9)
    data = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [float(x) for x in rng.standard_normal(16)])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(Exception, match="expected 64-dim|shapes|dimension"):
        sim.lsh_batch_topk(data, queries, k=3).collect()


def test_lsh_pair_candidates_bucket_cap_bounds_degenerate_bucket(spark):
    """Zero vectors land in bucket 0 of EVERY table — one data-dependent
    hot bucket that no n_planes choice bounds.  With max_bucket_size set,
    the degenerate bucket is dropped (pairs confined to it disappear,
    output stays bounded) while pairs living in healthy buckets survive."""
    import numpy as np

    from markmuse_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    rows = [(i, [0.0] * 8) for i in range(200)]  # the degenerate cluster
    for i in range(200, 220):  # planted near-dup pairs in healthy buckets
        v = rng.standard_normal(8)
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(x) for x in v + rng.standard_normal(8) * 0.05]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    uncapped = sim.lsh_pair_candidates(df).collect()
    assert sum(1 for r in uncapped if r["id_a"] < 200 and r["id_b"] < 200) == (
        200 * 199
    ) // 2  # the quadratic blowup the cap exists to stop

    capped = {
        (r["id_a"], r["id_b"])
        for r in sim.lsh_pair_candidates(df, max_bucket_size=100).collect()
    }
    assert not any(a < 200 and b < 200 for a, b in capped)
    planted = {(i, i + 1000) for i in range(200, 220)}
    assert planted <= capped  # healthy-bucket pairs unaffected by the cap


def test_minhash_band_cap_bounds_identical_cluster(spark):
    """A boilerplate-identical cluster shares every band hash; with
    max_band_size set its O(m^2) candidates are dropped-and-logged while
    ordinary near-dup pairs (tiny band groups) are untouched."""
    from markmuse_spark.operators import dedup as dd

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [(i, boiler) for i in range(120)]
    rows += [(1000, near_a), (1001, near_b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(docs, threshold=0.5, max_band_size=50).collect()
    }
    assert (1000, 1001) in capped  # healthy pair survives
    assert not any(a < 120 and b < 120 for a, b in capped)

    uncapped = dd.minhash_lsh_pairs(docs, threshold=0.5).count()
    assert uncapped == (120 * 119) // 2 + 1  # the blowup, for contrast


def test_lsh_batch_topk_large_query_side_takes_shuffle_join(spark, vectors):
    """Above max_broadcast_probes the probe join must not carry a
    broadcast hint: with auto-broadcast disabled the plan goes through a
    shuffle join and returns the identical result — the fail-over the
    unconditional broadcast lacked."""
    from markmuse_spark.operators import similarity as sim

    queries = vectors.filter(F.col("vec_id") < 5)
    want = {
        (r["query_id"], r["cand_id"], r["cosine"])
        for r in sim.lsh_batch_topk(vectors, queries, k=5).collect()
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = sim.lsh_batch_topk(vectors, queries, k=5, max_broadcast_probes=1)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        got = {(r["query_id"], r["cand_id"], r["cosine"]) for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want


def test_vec_dim_skips_leading_null(spark):
    """A NULL vector in row one must not disable width pinning (ADVICE
    round 4): the pin comes from the first NON-NULL vector."""
    from markmuse_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1).sortWithinPartitions("vec_id")
    assert sim._vec_dim(df, "embedding") == 4
    empty = df.filter(F.col("vec_id") < 0)
    assert sim._vec_dim(empty, "embedding") is None


def test_lsh_signatures_ragged_width_raises(spark):
    """With dim unset, lsh_signatures self-pins the frame's width from
    its first non-null vector and every batch is checked against it —
    a ragged frame must raise globally (not just within one task's
    batches), never hash different widths into incompatible plane
    spaces (ADVICE round 4)."""
    import pytest as _pytest

    from markmuse_spark.operators import similarity as sim

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        df = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0, 4.0])],
            "vec_id long, embedding array<double>",
        ).coalesce(1)
        with _pytest.raises(Exception, match=r"expected \d+-dim vectors, got"):
            sim.lsh_signatures(df).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_minhash_candidate_dedup_folds_into_verify_exchange(docs):
    """Plan pin for the round-5 fold: the candidate stream crosses exactly
    ONE exchange (repartition on doc_a) with the duplicate-elimination
    aggregate running on top of it — `.distinct()` before the verify join
    cost a second full pair-key exchange."""
    plan = (
        dedup.minhash_lsh_pairs(docs, threshold=0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "REPARTITION_BY_COL" in plan
    import re as _re

    # exchanges of the two-column candidate key (doc_a, doc_b) must not
    # exist; the only hashpartitioning exchanges are the doc_a repartition
    # and whatever the verify joins need on the shingle side
    assert not _re.search(r"hashpartitioning\(doc_a#\d+L, doc_b", plan)


def test_bucket_warn_costs_zero_jobs_and_rides_the_join_plan(spark, docs):
    """Round-7 ask #7: default-on warn observability must cost ZERO extra
    Spark jobs — building the miner plan launches nothing (round 6 ran an
    eager ``.first()`` per call), and the metrics collection rides the
    self-join side as a CollectMetrics node over a broadcast join-back of
    the oversized-group count, all of which runs inside the caller's own
    first action."""
    sc = spark.sparkContext
    sc.setJobGroup("warn-lazy-probe", "plan construction must launch no jobs")
    try:
        pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)  # warn defaults ON
        assert list(sc.statusTracker().getJobIdsForGroup("warn-lazy-probe")) == []
    finally:
        sc.setJobGroup("", "")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" in plan
    # the candidate-pair dedup folds into the doc_a exchange
    # (repartition(doc_a).dropDuplicates): no (doc_a, doc_b) exchange
    import re as _re

    assert not _re.search(r"hashpartitioning\(doc_a#\d+L, doc_b", plan)


def test_bucket_warn_observability_fires_with_caps_off(spark, caplog):
    """Round-6 ask #2: with NO drop caps set, both LSH miners still
    ANNOUNCE degenerate groups (default-on, warn-only) — and the warn
    changes nothing about the result relation."""
    import logging

    import numpy as np

    rows = [(i, [0.0] * 8) for i in range(60)]  # degenerate cluster
    rng = np.random.default_rng(5)
    v = rng.standard_normal(8)
    rows += [(500, [float(x) for x in v]),
             (501, [float(x) for x in v + rng.standard_normal(8) * 0.02])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with caplog.at_level(
        logging.WARNING, logger="markmuse_spark.operators.similarity"
    ):
        warned = {
            (r["id_a"], r["id_b"])
            for r in similarity.lsh_pair_candidates(
                df, warn_bucket_size=30
            ).collect()
        }
        # round 7: the warn fires on a waiter thread unblocked by the
        # collect above (zero extra Spark jobs) — flush it before asserting
        similarity.drain_bucket_warnings()
    assert any(
        "exceed the soft size threshold" in r.message for r in caplog.records
    )
    silent = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_pair_candidates(
            df, warn_bucket_size=None
        ).collect()
    }
    assert warned == silent  # warn-only: zero semantic effect

    caplog.clear()
    boiler = "a b c d e f g h i j k l"
    docs2 = spark.createDataFrame(
        [(i, boiler) for i in range(40)], "doc_id long, text string"
    )
    with caplog.at_level(
        logging.WARNING, logger="markmuse_spark.operators.similarity"
    ):
        dedup.minhash_lsh_pairs(docs2, warn_band_size=20).collect()
        similarity.drain_bucket_warnings()
    assert any(
        "exceed the soft size threshold" in r.message for r in caplog.records
    )


def test_bucket_warn_is_on_by_default():
    """The observability defaults must be ON (a 100 TB run should not
    need to know the knob exists to learn it is melting)."""
    import inspect

    for fn, param in (
        (dedup.minhash_lsh_pairs, "warn_band_size"),
        (similarity.lsh_pair_candidates, "warn_bucket_size"),
        (similarity.embedding_near_pairs_lsh, "warn_bucket_size"),
    ):
        assert (
            inspect.signature(fn).parameters[param].default
            == similarity.DEFAULT_WARN_BUCKET_SIZE
        )


def test_drop_oversized_buckets_hot_key_bound_takes_shuffle_path(
    spark, monkeypatch, caplog
):
    """ADVICE round 5: a degenerate cap on skewed data must not collect
    an unbounded hot-key set — above MAX_COLLECTED_HOT_KEYS the guard
    switches to a shuffle anti-join with identical drop semantics."""
    import logging

    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, [0.0] * 8) for i in range(80)]
    for i in range(200, 210):
        v = rng.standard_normal(8)
        rows.append((i, [float(x) for x in v]))
        rows.append(
            (i + 1000, [float(x) for x in v + rng.standard_normal(8) * 0.05])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(similarity, "MAX_COLLECTED_HOT_KEYS", 1)
    with caplog.at_level(
        logging.WARNING, logger="markmuse_spark.operators.similarity"
    ):
        capped = {
            (r["id_a"], r["id_b"])
            for r in similarity.lsh_pair_candidates(
                df, max_bucket_size=40
            ).collect()
        }
    assert any("shuffle" in r.message for r in caplog.records)
    assert not any(a < 80 and b < 80 for a, b in capped)
    planted = {(i, i + 1000) for i in range(200, 210)}
    assert planted <= capped


@pytest.mark.parametrize("dim,expect_broadcast", [(8, True), (4096, False)])
def test_lsh_batch_topk_auto_cap_scales_with_vector_width(
    spark, dim, expect_broadcast
):
    """Round-6 ask #8: with max_broadcast_probes unset, the cap derives
    from autoBroadcastJoinThreshold / observed row width — at one fixed
    session threshold, narrow query vectors broadcast and wide ones take
    the shuffle join (the fixed 500k-row default silently assumed a
    width)."""
    import numpy as np

    from markmuse_spark.operators import similarity as sim

    rng = np.random.default_rng(3)
    data = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(100, [float(x) for x in rng.standard_normal(dim)])],
        "vec_id long, embedding array<double>",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "262144")
    try:
        out = sim.lsh_batch_topk(data, q, k=3)
        # the HINT decision (ours) is read from the optimized logical
        # plan, where it is independent of stats-based auto-broadcast
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert ("strategy=broadcast" in plan) == expect_broadcast
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_parse_byte_conf_units():
    from markmuse_spark.operators.similarity import _parse_byte_conf

    assert _parse_byte_conf("10485760") == 10 * 2**20
    assert _parse_byte_conf("10485760b") == 10 * 2**20
    assert _parse_byte_conf("10MB") == 10 * 2**20
    assert _parse_byte_conf("1g") == 2**30
    assert _parse_byte_conf("64k") == 64 * 2**10
    assert _parse_byte_conf("-1") == -1


def test_parallelize_for_udf_widens_without_rdd_probe(spark, tmp_path, monkeypatch):
    """Round-6 ask #7: the narrow-scan widen guard must never touch
    ``df.rdd`` (plan-to-RDD conversion per call), and round-7 ask #5:
    nor ``spark._jvm`` (absent under Spark Connect); the width decision
    reads only ``inputFiles`` and two confs.  A one-file parquet scan
    widens to default parallelism, and so does an in-memory frame."""
    from pyspark.sql import DataFrame, SparkSession

    p = str(tmp_path / "docs")
    spark.range(0, 1000).selectExpr(
        "id as doc_id", "repeat('w ', 20) as text"
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    local = spark.createDataFrame([(1, "a")], "doc_id long, text string")

    def _trap(what):
        def raise_(self):
            raise AssertionError(f"_parallelize_for_udf touched {what}")

        return property(raise_)

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "rdd", _trap("df.rdd"))
        m.setattr(SparkSession, "_jvm", _trap("spark._jvm"), raising=False)
        wide = dedup._parallelize_for_udf(df)
        wide_local = dedup._parallelize_for_udf(local)
    target = spark.sparkContext.defaultParallelism
    assert wide.rdd.getNumPartitions() == target
    assert wide_local.rdd.getNumPartitions() == target


def test_parallelize_for_udf_keeps_provably_wide_scan(spark, tmp_path):
    """A scan of ``target * maxPartitionBytes / openCostInBytes`` files
    or more has at least ``target`` scan partitions, so the guard
    returns it unchanged (no extra shuffle at 10^12 docs); one file
    fewer and it is repartitioned to ``target``."""
    target = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "docs")
    spark.range(0, 10 * target).selectExpr(
        "id as doc_id", "repeat('w ', 20) as text"
    ).repartition(target).write.parquet(p)
    files = sorted(
        str(f) for f in (tmp_path / "docs").iterdir()
        if f.name.endswith(".parquet")
    )
    assert len(files) == target
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = {k: spark.conf.get(k) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "1m")
        df = spark.read.parquet(*files)
        assert dedup._parallelize_for_udf(df) is df
        assert df.rdd.getNumPartitions() >= target
        fewer = spark.read.parquet(*files[1:])
        widened = dedup._parallelize_for_udf(fewer)
        assert widened is not fewer
        assert widened.rdd.getNumPartitions() == target
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_corpus_curation_minhash_stage_is_exact(spark):
    """The p_corpus_curation fixture substitutes the EXACT n-gram
    Jaccard relation for the banded MinHash stage; this pins that the
    32x2-banded miner's output equals the exact relation on the actual
    composed survivor frame — the assumption the driver row rests on."""
    from markmuse_spark.golden.query_fixtures import (
        _canonicalize_url, _curation_crawl_rows, _ws_fingerprint,
    )

    crawl = _curation_crawl_rows()
    by_canon: dict = {}
    for url, md in crawl:
        by_canon.setdefault(_canonicalize_url(url), []).append((url, md))
    c1 = [min(g, key=lambda r: r[0]) for g in by_canon.values()]
    by_fp: dict = {}
    for url, md in c1:
        by_fp.setdefault(_ws_fingerprint(md), []).append((url, md))
    surv = sorted(min(g, key=lambda r: r[0]) for g in by_fp.values())
    df = spark.createDataFrame(surv, "url string, markdown string")

    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            df, id_col="url", text_col="markdown", threshold=0.5
        ).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(
            df, id_col="url", text_col="markdown",
            num_perm=64, bands=32, threshold=0.5,
        ).collect()
    }
    assert lsh == exact and len(exact) >= 50


def test_ivf_topk_exactness_and_recall(spark):
    """IVF contract (round 7): probing ALL buckets equals brute-force
    cosine_topk row-for-row (the coarse quantizer can only partition,
    never change the metric), and the deterministic 4-of-16 probe holds
    a measured recall floor on the fixed corpus."""
    from markmuse_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bf = [(r["vec_id"], r["cosine"])
          for r in cosine_topk(emb, 0, k=10).collect()]
    full = [(r["vec_id"], r["cosine"])
            for r in ivf_topk(emb, 0, k=10, n_centroids=16,
                              n_probe=16).collect()]
    assert full == bf
    got = {r["vec_id"]
           for r in ivf_topk(emb, 0, k=10, n_centroids=16,
                             n_probe=4).collect()}
    recall = len(got & {v for v, _ in bf}) / 10
    assert recall >= 0.6, recall  # measured 0.7 on the deterministic data

    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_probe"):
        ivf_topk(emb, 0, n_centroids=4, n_probe=5)


def test_ivf_split_index_probe_and_empty_contract(spark):
    """The steady-state scale path: ivf_assign builds the index ONCE,
    ivf_probe_topk probes it repeatedly — composed results equal the
    one-shot form; an empty index raises (same contract as a missing
    query id), never a silent empty frame."""
    from markmuse_spark.operators.similarity import (
        ivf_assign, ivf_probe_topk, ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assigned, cents = ivf_assign(emb, n_centroids=16)
    assert len(cents) == 16
    for qid in (0, 7):
        split = [(r["vec_id"], r["cosine"])
                 for r in ivf_probe_topk(assigned, cents, qid, k=5,
                                         n_probe=4).collect()]
        oneshot = [(r["vec_id"], r["cosine"])
                   for r in ivf_topk(emb, qid, k=5, n_centroids=16,
                                     n_probe=4).collect()]
        assert split == oneshot, qid
    empty = emb.filter("vec_id < 0")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not found"):
        ivf_topk(empty, 0)


def test_ivf_batch_matches_single_probes(spark):
    """Batch IVF (one bucket equi-join, per-query window top-k) must
    equal the single-query probe for every query in the batch."""
    from markmuse_spark.operators.similarity import (
        ivf_assign, ivf_batch_topk, ivf_probe_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assigned, cents = ivf_assign(emb, n_centroids=16)
    assigned = assigned.persist()
    try:
        queries = assigned.filter("vec_id < 3").select("vec_id", "vec")
        batch = ivf_batch_topk(assigned, cents, queries, k=5,
                               n_probe=4).collect()
        for qid in range(3):
            single = [(r["vec_id"], r["cosine"])
                      for r in ivf_probe_topk(assigned, cents, qid, k=5,
                                              n_probe=4).collect()]
            got = [(r["cand_id"], r["cosine"])
                   for r in batch if r["query_id"] == qid]
            assert got == single, qid
    finally:
        assigned.unpersist()
    import pytest as _pytest
    with _pytest.raises(ValueError, match="vec"):
        ivf_batch_topk(assigned, cents, emb.select("vec_id"), k=5)
