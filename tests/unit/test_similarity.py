"""Similarity / dedup / multimodal operator tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from canonicity_spark import media, similarity


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(7)
    base = rng.standard_normal((80, 64)).astype("float32")
    rows = [(i, base[i].tolist(), i % 4) for i in range(80)]
    # plant near-duplicates: vectors 100.. are tiny perturbations of 0..9
    for i in range(10):
        noisy = base[i] + 0.02 * rng.standard_normal(64).astype("float32")
        rows.append((100 + i, noisy.tolist(), i % 4))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_cosine_topk_matches_numpy(spark, embeddings):
    got = similarity.cosine_topk(embeddings, query_vec_id=0, k=5).collect()
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in embeddings.collect()}
    q = rows[0]
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in rows.items()
        if vid != 0
    }
    want = sorted(sims, key=lambda k: (-round(sims[k], 6), k))[:5]
    assert [r.vec_id for r in got] == want
    assert got[0].vec_id == 100  # the planted near-dup of vector 0


def test_embedding_near_dup_finds_planted_pairs(spark, embeddings):
    pairs = {
        (r.vec_id_a, r.vec_id_b)
        for r in similarity.embedding_near_dup_pairs(
            embeddings, threshold=0.9
        ).collect()
    }
    planted = {(i, 100 + i) for i in range(10)}
    # sign-LSH recall on cos>=0.99 pairs should be essentially total
    assert planted <= pairs
    # and exact verification keeps precision: nothing below threshold
    exact = {
        (r.vec_id_a, r.vec_id_b)
        for r in similarity.cosine_pairs_exact(embeddings, threshold=0.9).collect()
    }
    assert pairs <= exact


@pytest.fixture(scope="module")
def clustered_embeddings(spark):
    """Mixture of 8 well-separated gaussians — the regime IVF exists
    for. A real quantizer recovers the mixture cells; the round-1
    lowest-vec_id stub did not (arbitrary cells -> recall collapse)."""
    rng = np.random.RandomState(3)
    centers = rng.standard_normal((8, 64)) * 6
    rows = []
    for i in range(400):
        c = i % 8
        v = (centers[c] + 0.3 * rng.standard_normal(64)).astype("float32")
        rows.append((i, v.tolist(), c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_ivf_topk_recall(spark, clustered_embeddings):
    exact = [
        r.vec_id
        for r in similarity.cosine_topk(clustered_embeddings, 0, k=10).collect()
    ]
    approx = [
        r.vec_id
        for r in similarity.ivf_topk(
            clustered_embeddings, 0, k=10, n_centroids=8, n_probe=2
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    # k-means cells align with the mixture: probing 2/8 cells must still
    # capture the query's true neighbors (bar raised from 0.5 — VERDICT)
    assert recall >= 0.9, (exact, approx)


def test_ivf_topk_unclustered_still_finds_planted_dup(spark, embeddings):
    """On structureless data IVF recall is bounded by n_probe/n_cells,
    but the planted near-identical duplicate shares the query's cell by
    construction and must always surface first."""
    approx = [
        r.vec_id
        for r in similarity.ivf_topk(
            embeddings, 0, k=10, n_centroids=8, n_probe=4
        ).collect()
    ]
    assert approx[0] == 100


def test_ivf_build_query_split(spark, clustered_embeddings):
    """Build once, query many (VERDICT round 2 #6): the cell assignment
    is persisted and shared by a BATCH of queries — no per-query
    re-assignment, no driver collect in the query path."""
    index = similarity.build_ivf_index(clustered_embeddings, n_centroids=8)
    # one assignment job, pinned for reuse across queries
    assert index.assigned.storageLevel.useMemory
    queries = clustered_embeddings.filter(F.col("vec_id").isin([0, 1])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = similarity.ivf_query(
        index, queries, k=5, n_probe=2, exclude_self=True
    ).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1} and all(len(v) == 5 for v in by_q.values())
    # the batch path agrees with the single-query wrapper
    batch0 = [
        r.vec_id for r in sorted(by_q[0], key=lambda r: (-r.cosine_sim, r.vec_id))
    ]
    single = [
        r.vec_id
        for r in similarity.ivf_topk(
            clustered_embeddings, 0, k=5, n_centroids=8, n_probe=2
        ).collect()
    ]
    assert batch0 == single


def test_ivf_index_stage_written(spark, clustered_embeddings, tmp_path):
    """Catalog-backed build: the assignment is a committed, resumable
    stage table and the query path is unchanged."""
    from canonicity_spark.io_catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "ivf"))
    index = similarity.build_ivf_index(
        clustered_embeddings, n_centroids=8, catalog=cat
    )
    assert cat.stage_committed("ivf_index")
    # a fresh catalog over the same dir serves the index without rebuild
    reread = similarity.IvfIndex(
        ParquetCatalog(str(tmp_path / "ivf")).read_stage(spark, "ivf_index"),
        index.centroids,
    )
    q = clustered_embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = similarity.ivf_query(index, q, k=5, n_probe=2, exclude_self=True).collect()
    b = similarity.ivf_query(reread, q, k=5, n_probe=2, exclude_self=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and len(a) == 5


def test_ivf_index_resumes_from_manifest(spark, clustered_embeddings, tmp_path, monkeypatch):
    """Round-4 centroid persistence (ADVICE round 3): a second build
    against a committed stage rehydrates the centroid matrix from the
    stage manifest and SKIPS k-means + re-assignment entirely — the
    index resumes for free across catalog instances."""
    import numpy as np

    from canonicity_spark.io_catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "ivf"))
    index = similarity.build_ivf_index(
        clustered_embeddings, n_centroids=8, catalog=cat
    )
    # second build must not train or assign: poison the kmeans path
    monkeypatch.setattr(
        similarity,
        "_kmeans_centroids",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("rebuilt")),
    )
    resumed = similarity.build_ivf_index(
        clustered_embeddings,
        n_centroids=8,
        catalog=ParquetCatalog(str(tmp_path / "ivf")),
    )
    # JSON floats round-trip exactly -> bit-identical centroids
    assert np.array_equal(resumed.centroids, index.centroids)
    q = clustered_embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = similarity.ivf_query(index, q, k=5, n_probe=2, exclude_self=True).collect()
    b = similarity.ivf_query(resumed, q, k=5, n_probe=2, exclude_self=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and len(a) == 5

    # resume with DIFFERENT build parameters must fail loudly, never
    # silently hand back the stale index (ADVICE round 4)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="n_centroids"):
        similarity.build_ivf_index(
            clustered_embeddings,
            n_centroids=16,
            catalog=ParquetCatalog(str(tmp_path / "ivf")),
        )


def test_simhash_near_dup_hamming(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "completely different words entirely unrelated content here now"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.simhash for r in similarity.simhash_docs(docs).collect()}

    def ham(a, b):
        return bin((a & (2**64 - 1)) ^ (b & (2**64 - 1))).count("1")

    assert ham(got[1], got[2]) < ham(got[1], got[3])
    assert ham(got[1], got[2]) <= 16


def _simhash64_reference(t: str) -> int:
    """Straight-line per-token implementation, kept as the parity oracle
    for the vectorized kernel (round 3: token hash basis is the first 16
    hex chars of md5, matching the DuckDB oracle in __spark_entry__;
    round 4: tokenizer splits on RE2's ASCII '\\s' class [\\t\\n\\f\\r ]
    exactly like the oracle's regexp_split_to_array — NOT on Python's
    Unicode whitespace)."""
    import hashlib
    import re

    if not t:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    for tok in (w for w in re.split(r"[\t\n\f\r ]+", t) if w):
        h = np.uint64(int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:16], 16))
        bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        acc += np.where(bits == np.uint64(1), 1, -1)
    sig = int(((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def test_simhash_vectorized_parity(spark):
    """Vectorized simhash64 must be bit-identical to the original
    per-token implementation on varied inputs (empty, whitespace-only,
    unicode, long, repeated tokens)."""
    rng = np.random.RandomState(11)
    vocab = ["alpha", "beta", "Žünder", "gamma42", "the", "of", "xx", "yyy"]
    texts = [
        "",
        "   ",
        "single",
        "the the the the of of",
        "Müller Gmbh works for Žünder Aß",
        # Unicode whitespace must NOT split tokens (ADVICE round 3: the
        # oracle's RE2 '\s' is ASCII-only; NBSP/U+2028/\x85/\v are token
        # bytes, not separators, on both sides now)
        "non breaking and line sep and nel\x85 and vt\x0btab",
        " ".join(vocab[i % len(vocab)] for i in range(5000)),
    ] + [
        " ".join(rng.choice(vocab, size=rng.randint(1, 200)))
        for _ in range(50)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {r.doc_id: r.simhash for r in similarity.simhash_docs(docs).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _simhash64_reference(t), (i, t[:50])


def test_simhash_pairs_matches_brute_force(spark):
    """Banded pair path == all-pairs hamming (pigeonhole: hamming<=3
    with 4 bands is lossless), on a corpus with planted near-dups."""
    base = "the quick brown fox jumps over the lazy dog wearing a tall hat today"
    texts = [base]
    # near-dups: one token changed (low hamming); plus unrelated docs
    texts.append(base.replace("dog", "cat"))
    texts.append(base.replace("today", "tomorrow"))
    texts += [
        f"completely unrelated document number {i} with different words {i * 7}"
        for i in range(20)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in similarity.simhash_pairs(docs, max_hamming=8, n_bands=16).collect()
    }
    fps = {r.doc_id: r.simhash for r in similarity.simhash_docs(docs).collect()}

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    want = {
        (a, b): ham(fps[a], fps[b])
        for a in fps
        for b in fps
        if a < b and ham(fps[a], fps[b]) <= 8
    }
    assert got == want and len(want) > 0


def test_simhash_pairs_hot_bucket_guard(spark):
    """A degenerate corpus (many identical docs) trips the bucket cap:
    with max_bucket below the clique size every band bucket is excluded
    and no pair survives — the quadratic-explosion guard."""
    docs = spark.createDataFrame(
        [(i, "same words in every single document") for i in range(12)],
        ["doc_id", "text"],
    )
    assert similarity.simhash_pairs(docs, max_bucket=5).count() == 0
    # and with the cap above the clique size, all pairs return
    assert similarity.simhash_pairs(docs, max_bucket=50).count() == 12 * 11 // 2


def test_shingle_hash_set_matches_string_sets():
    """Round 8: the verify stage's shingle sets are sorted int64 hashes
    from the vectorized Arrow kernel, not string arrays from the
    shingles_col HOF. The hash image must preserve set SIZES and pair
    INTERSECTION sizes exactly (that is all the jaccard reads) across
    ASCII, multibyte, short (<5 chars), empty and None texts."""
    from canonicity_spark.similarity import _shingle_hash_set

    def str_set(t):
        if t is None:
            return {None}
        return set(t[i : i + 5] for i in range(len(t) - 4)) if len(t) >= 5 else {t}

    cases = [
        None, "", "a", "abcd", "abcde", "hello world hello world",
        "héllo wörld façade", "日本語のテキストです", "emoji 🎉🎊 test",
        "aaaaaaaaaa", "ababababab", ("word " * 60).strip(),
        "tab\tand\nnewline chars", "🎉" * 7,
    ]
    hsets = {i: set(_shingle_hash_set(t).tolist()) for i, t in enumerate(cases)}
    ssets = {i: str_set(t) for i, t in enumerate(cases)}
    for i, t in enumerate(cases):
        assert len(hsets[i]) == len(ssets[i]), repr(t)
    for i in range(len(cases)):
        for j in range(i + 1, len(cases)):
            assert len(hsets[i] & hsets[j]) == len(ssets[i] & ssets[j]), (
                cases[i], cases[j],
            )
    # one batch over all texts (windows straddling two texts are never
    # read) equals each text on its own, in either order
    for batch in (cases, cases[::-1]):
        for t, got in zip(batch, similarity._shingle_hash_sets(batch)):
            assert np.array_equal(got, _shingle_hash_set(t)), repr(t)


def test_near_dup_jaccard_matches_string_reference(spark):
    """End-to-end: minhash_near_dup_pairs' hash-set jaccard equals the
    exact string-5-gram-set jaccard recomputed driver-side for every
    emitted pair (the dd_near_dup_verified oracle's definition)."""
    base = (
        "the quick brown fox jumps over the lazy dog and détour café "
        "naïve résumé text with unicode flair repeated for length " * 2
    )
    rows = [(f"d{i}", base.replace("dog", w)) for i, w in enumerate(
        ["dog", "dpg", "cat", "dog today", "doog"]
    )] + [(f"u{i}", f"unrelated filler {i} " * 20) for i in range(3)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = similarity.minhash_near_dup_pairs(docs).collect()
    assert len(got) >= 4  # the planted near-identical variants pair up

    import re

    norm = {
        d: re.sub(r"\s+", " ", t.strip().lower()) for d, t in rows
    }

    def sset(t):
        return set(t[i : i + 5] for i in range(len(t) - 4)) if len(t) >= 5 else {t}

    for r in got:
        a, b = sset(norm[r.doc_a]), sset(norm[r.doc_b])
        want = round(len(a & b) / len(a | b), 6)
        assert abs(r.jaccard - want) < 1e-9, (r.doc_a, r.doc_b, r.jaccard, want)


def test_verify_broadcast_guard_falls_back_above_bound(spark):
    """Round 8 (2nd pass): the verify join broadcasts the shingle-set
    table only under the candidate-doc bound — above it, the shuffled
    join runs with identical output (the band_join guard pattern)."""
    from canonicity_spark import cache

    rows = [(f"d{i}", f"document body shared prefix {i % 3} " * 6)
            for i in range(9)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    base, banded = similarity._banded_docs(docs, "text")
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), ["band_id", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )

    def rows_of(df):
        return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}

    try:
        bcast = similarity._verify_pairs_jaccard(pairs, base, owner="t_vb")
        fallback = similarity._verify_pairs_jaccard(
            pairs, base, owner="t_vb2", broadcast_max_docs=1
        )
        got_b, got_f = rows_of(bcast), rows_of(fallback)
        plan = bcast._jdf.queryExecution().executedPlan().toString()
    finally:
        cache.unpin_all(owner="t_vb")
        cache.unpin_all(owner="t_vb2")
    assert got_b == got_f and got_b  # identical pairs on both paths
    # under the bound the set table is broadcast on both join sides;
    # over it, not forced (tiny frames may still auto-broadcast, so
    # assert only the under-bound direction)
    assert plan.count("BroadcastHashJoin") >= 2


def _near_dup_rows(df):
    """Every output row, duplicates kept (a doc_id held by two rows
    yields one row per text combination)."""
    return sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())


def _ran_on_driver(df) -> bool:
    """The driver path's plan is Project/Filter over a LocalRelation of
    scored pairs; the distributed one joins (test inputs built from
    Python lists are LogicalRDDs, not LocalRelations)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "LocalRelation" in plan and "Join" not in plan


def _both_paths(monkeypatch, bound, value, docs, **kw):
    """(driver rows, distributed rows) of minhash_near_dup_pairs, the
    distributed run forced by lowering one module-constant bound."""
    on_driver = similarity.minhash_near_dup_pairs(docs, **kw)
    assert _ran_on_driver(on_driver)
    with monkeypatch.context() as m:
        m.setattr(similarity, bound, value)
        distributed = similarity.minhash_near_dup_pairs(docs, **kw)
        assert not _ran_on_driver(distributed)
        return _near_dup_rows(on_driver), _near_dup_rows(distributed)


def _variants(base: str, n: int, prefix: str) -> list[tuple[str, str]]:
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma"]
    return [
        (f"{prefix}{i:03d}", base.replace("fox", words[i % len(words)] + str(i)))
        for i in range(n)
    ]


_FOX = (
    "the quick brown fox jumps over the lazy dog and then sits down to "
    "rest for a while before the long walk home tonight "
)


def test_near_dup_driver_path_matches_distributed_doc_bound(spark, monkeypatch):
    rows = _variants(_FOX * 3, 12, "d") + [
        (f"u{i}", f"unrelated filler number {i} " * 12) for i in range(4)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for kw in ({}, {"min_jaccard": 0.8}):
        got, want = _both_paths(
            monkeypatch, "DRIVER_NEAR_DUP_MAX_DOCS", len(rows) - 1, docs, **kw
        )
        assert got == want and got


def test_near_dup_driver_path_matches_distributed_byte_bound(spark, monkeypatch):
    """Long documents (~7 KB each, past the dense-MinHash cutover) under
    the doc bound but over a lowered byte bound."""
    rows = _variants(_FOX * 60, 6, "L")
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    n_bytes = sum(len(" ".join(t.split()).encode()) for _, t in rows)
    got, want = _both_paths(
        monkeypatch, "DRIVER_NEAR_DUP_MAX_BYTES", n_bytes - 1, docs,
        min_jaccard=0.5,
    )
    assert got == want and got


def test_near_dup_driver_path_matches_distributed_pair_bound(spark, monkeypatch):
    """A bucket-heavy corpus — 40 variants of one text share most band
    buckets — over a lowered candidate-pair bound."""
    rows = _variants(_FOX * 2, 40, "b")
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got, want = _both_paths(monkeypatch, "DRIVER_NEAR_DUP_MAX_PAIRS", 100, docs)
    assert got == want and len(got) > 100


def test_near_dup_driver_path_edge_rows(spark, monkeypatch):
    """NULL doc_id (counts toward bucket sizes, never pairs), a doc_id on
    two rows with different texts (every text combination is scored),
    empty and NULL texts, and a tight hot-bucket cap."""
    near = _variants(_FOX * 2, 4, "e")
    rows = near + [
        (None, near[0][1]),
        ("e001", near[2][1] + " trailing words"),  # second row for e001
        ("x0", ""),
        ("x1", None),
        ("x2", ""),
        (None, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = {}
    for kw in ({}, {"max_bucket": 2}, {"max_bucket": 3}, {"min_jaccard": 0.7}):
        got, want = _both_paths(
            monkeypatch, "DRIVER_NEAR_DUP_MAX_DOCS", 1, docs, **kw
        )
        assert got == want, kw
        out[tuple(kw.items())] = got
    plain = out[()]
    # one row per text of e001, and the three empty/NULL texts pair up
    assert len([r for r in plain if r[:2] == ("e000", "e001")]) == 2
    assert ("x0", "x2", 1.0) in plain and ("x0", "x1", 0.0) in plain
    # four rows (one with a NULL id) share the empty-text buckets: over a
    # cap of 3, so the NULL-id row is counted
    assert not [r for r in out[(("max_bucket", 3),)] if r[0].startswith("x")]


def test_bucket_pairs_kernel_parity(spark):
    """The bucket guard and pair kernel agree across their three forms on
    small random band tables: ``_bucket_row_pairs`` (the numpy twin on
    the near-dup driver path) == ``bucket_pairs`` self mode, and
    incremental mode (with and without the ``_kp`` pruning) == self mode
    over the union restricted to pairs with a new side. Edge rows: a
    bucket of exactly ``max_bucket`` rows (kept), one of
    ``max_bucket + 1`` (dropped), NULL ids (counted toward bucket size,
    never paired) and a pair sharing several buckets."""
    mb, n_bands = 4, 3
    rng = np.random.RandomState(11)
    n_rand = 40
    ids = [None if i % 7 == 3 else f"r{i:02d}" for i in range(n_rand)]
    bands = [list(rng.randint(0, 12, size=n_bands)) for _ in range(n_rand)]

    def edge(doc_id, *shared):
        # the listed leading bands take the shared hashes; the rest get a
        # value no other row has
        ids.append(doc_id)
        row = len(bands)
        bands.append(list(shared) + [1000 + row] * (n_bands - len(shared)))

    for i in range(mb):
        edge(f"k{i}", 100)  # exactly max_bucket rows: kept
    for i in range(mb + 1):
        edge(f"h{i}", 101)  # max_bucket + 1 rows: dropped
    for doc_id in ["n0", "n1", "n2", None, None]:
        edge(doc_id, 102)  # 3 ids + 2 NULL rows: over the cap
    for doc_id in ["m0", "m1", None]:
        edge(doc_id, 103)  # under the cap: the ids pair, NULL does not
    edge("s0", 104, 104, 104)  # s0/s1 share all three buckets
    edge("s1", 104, 104, 104)
    mat = np.array(bands, dtype=np.int64)

    ra, rb = similarity._bucket_row_pairs(mat, mb, 1 << 20)
    twin = {
        (min(ids[a], ids[b]), max(ids[a], ids[b]))
        for a, b in zip(ra.tolist(), rb.tolist())
        if ids[a] is not None and ids[b] is not None and ids[a] != ids[b]
    }
    keys = ["band_id", "band_hash"]
    rows = [
        (ids[r], b, int(mat[r, b])) for r in range(len(ids)) for b in range(n_bands)
    ]
    schema = "doc_id string, band_id int, band_hash long"
    union = spark.createDataFrame(rows, schema)

    def pairs_of(df):
        got = [(r.id_a, r.id_b) for r in df.collect()]
        assert len(got) == len(set(got))  # distinct pairs
        return set(got)

    self_pairs = pairs_of(similarity.bucket_pairs(union, keys, "doc_id", mb))
    assert self_pairs == twin
    assert all(a < b for a, b in self_pairs)
    assert ("k0", "k3") in self_pairs and ("m0", "m1") in self_pairs
    assert ("s0", "s1") in self_pairs
    assert not [p for p in self_pairs if p[0][0] in "hn" and p[1][0] in "hn"]

    new_ids = {d for i, d in enumerate(ids) if d is not None and i % 3 == 0}
    new_rows = [r for i, r in enumerate(rows) if (i // n_bands) % 3 == 0]
    new = spark.createDataFrame(new_rows, schema)
    want = {p for p in self_pairs if p[0] in new_ids or p[1] in new_ids}
    assert want and want != self_pairs
    kp = similarity.KEY_PREFIX_COL
    for all_rows in (union, union.withColumn(kp, similarity.key_prefix_col(keys))):
        got = pairs_of(
            similarity.bucket_pairs(new, keys, "doc_id", mb, all_rows=all_rows)
        )
        assert got == want


def test_incremental_minhash_matches_batch(spark, tmp_path):
    """Incremental dedup against a stage-written index must equal the
    batch run over (indexed + new) restricted to pairs touching a new
    doc — including the hot-bucket guard, which the incremental path
    computes over the UNION's bucket sizes."""
    from canonicity_spark.io_catalog import ParquetCatalog

    base = (
        "the quick brown fox jumps over the lazy dog and then sits down "
        "to rest for a while before the long walk home tonight " * 3
    )
    old_rows = [
        (f"o{i}", base.replace("dog", w))
        for i, w in enumerate(["dog", "cat", "bird", "stone", "cloud"])
    ]
    new_rows = [
        ("n0", base.replace("rest", "sleep")),                      # near-dup of o0
        ("n1", base.replace("dog", "cat").replace("while", "bit")),  # near-dup of o1
        ("n2", "completely different content entirely unrelated " * 6),
        ("n3", base.replace("dog", "cat").replace("while", "bit") + " extra"),
    ]
    old_df = spark.createDataFrame(old_rows, ["doc_id", "text"])
    new_df = spark.createDataFrame(new_rows, ["doc_id", "text"])

    cat = ParquetCatalog(str(tmp_path / "mhidx"))
    idx = similarity.build_minhash_index(old_df, catalog=cat)
    assert cat.stage_committed("minhash_index_bands")

    def pairs_of(df):
        return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}

    got = pairs_of(similarity.minhash_near_dup_against(idx, new_df))
    batch = {
        p
        for p in pairs_of(similarity.minhash_near_dup_pairs(old_df.unionByName(new_df)))
        if p[0].startswith("n") or p[1].startswith("n")
    }
    assert got == batch and len(got) >= 3

    # the union-sized hot-bucket guard keeps equivalence under a tight cap
    got_capped = pairs_of(
        similarity.minhash_near_dup_against(idx, new_df, max_bucket=2)
    )
    batch_capped = {
        p
        for p in pairs_of(
            similarity.minhash_near_dup_pairs(
                old_df.unionByName(new_df), max_bucket=2
            )
        )
        if p[0].startswith("n") or p[1].startswith("n")
    }
    assert got_capped == batch_capped

    # durable: a fresh catalog over the same dir serves the index
    idx2 = similarity.MinhashIndex(
        ParquetCatalog(str(tmp_path / "mhidx")).read_stage(spark, "minhash_index_bands"),
        ParquetCatalog(str(tmp_path / "mhidx")).read_stage(spark, "minhash_index_texts"),
    )
    assert pairs_of(similarity.minhash_near_dup_against(idx2, new_df)) == got


def test_index_resume_serves_committed_stages_and_guards_modulus(
    spark, tmp_path, monkeypatch
):
    """Round 8 (VERDICT round 7 #5): a second build_*_index against a
    catalog with committed stages must (a) serve the index from the
    stage reads — no corpus re-banding — with identical probe results,
    (b) fail loudly when the session's prefix modulus differs from the
    stored layout's (a silent mismatch would mis-prune and MISS
    DUPLICATES), and (c) fail loudly on a geometry mismatch."""
    from canonicity_spark.io_catalog import ParquetCatalog

    base = (
        "the quick brown fox jumps over the lazy dog and then sits down "
        "to rest for a while before the long walk home tonight " * 3
    )
    old_df = spark.createDataFrame(
        [(f"o{i}", base.replace("dog", w)) for i, w in enumerate(["dog", "cat"])]
        + [(f"f{i}", f"filler doc {i} " * 12) for i in range(4)],
        ["doc_id", "text"],
    )
    new_df = spark.createDataFrame(
        [("n0", base.replace("rest", "sleep"))], ["doc_id", "text"]
    )
    cat = ParquetCatalog(str(tmp_path / "idx"))
    idx1 = similarity.build_minhash_index(old_df, catalog=cat)
    got1 = {(r.doc_a, r.doc_b) for r in
            similarity.minhash_near_dup_against(idx1, new_df).collect()}

    # (a) resume: fresh catalog over the same dir, docs frame NOT needed
    # for banding (only its sparkSession is touched before the resume
    # returns) — identical probe results
    idx2 = similarity.build_minhash_index(
        old_df, catalog=ParquetCatalog(str(tmp_path / "idx"))
    )
    assert idx2.bands.inputFiles(), "resumed index must read stage files"
    got2 = {(r.doc_a, r.doc_b) for r in
            similarity.minhash_near_dup_against(idx2, new_df).collect()}
    assert got2 == got1 and len(got1) >= 1

    # (b) modulus mismatch fails loudly on resume for all three builders
    emb = spark.createDataFrame(
        [(i, [float(i % 7)] * 64) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    similarity.build_simhash_index(old_df, catalog=cat, stage_name="sh_idx")
    similarity.build_embedding_index(emb, catalog=cat, stage_name="em_idx")
    monkeypatch.setattr(similarity, "N_PREFIX_PARTS", 64)
    for build in [
        lambda: similarity.build_minhash_index(old_df, catalog=cat),
        lambda: similarity.build_simhash_index(old_df, catalog=cat, stage_name="sh_idx"),
        lambda: similarity.build_embedding_index(emb, catalog=cat, stage_name="em_idx"),
    ]:
        with pytest.raises(RuntimeError, match="modulus"):
            build()
    monkeypatch.undo()

    # (c) geometry mismatch fails loudly
    with pytest.raises(RuntimeError, match="n_bands"):
        similarity.build_simhash_index(
            old_df, n_bands=8, catalog=cat, stage_name="sh_idx"
        )


def test_incremental_simhash_matches_batch(spark):
    """Incremental banded-SimHash == batch over (indexed + new),
    restricted to pairs touching a new doc."""
    base = "the quick brown fox jumps over the lazy dog wearing a tall hat today"
    old_rows = [(i, base.replace("dog", w)) for i, w in enumerate(["dog", "cat"])]
    old_rows += [(10 + i, f"unrelated filler document number {i} blah {i * 3}") for i in range(6)]
    new_rows = [(100, base.replace("today", "tomorrow")), (101, "something else entirely here")]
    old_df = spark.createDataFrame(old_rows, ["doc_id", "text"])
    new_df = spark.createDataFrame(new_rows, ["doc_id", "text"])

    idx = similarity.build_simhash_index(old_df, n_bands=16)
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in similarity.simhash_pairs_against(idx, new_df, max_hamming=8).collect()
    }
    batch = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in similarity.simhash_pairs(
            old_df.unionByName(new_df), max_hamming=8, n_bands=16
        ).collect()
        if r.doc_a >= 100 or r.doc_b >= 100
    }
    assert got == batch and len(got) >= 1


def test_incremental_embedding_near_dup_matches_batch(spark, embeddings):
    """Incremental sign-LSH embedding near-dup == batch over
    (indexed + new), restricted to pairs touching a new vector."""
    old_df = embeddings.filter(F.col("vec_id") < 100)
    new_df = embeddings.filter(F.col("vec_id") >= 100)  # the planted near-dups
    idx = similarity.build_embedding_index(old_df)
    got = {
        (r.vec_id_a, r.vec_id_b, r.cosine_sim)
        for r in similarity.embedding_near_dup_against(idx, new_df, threshold=0.9).collect()
    }
    batch = {
        (r.vec_id_a, r.vec_id_b, r.cosine_sim)
        for r in similarity.embedding_near_dup_pairs(embeddings, threshold=0.9).collect()
        if r.vec_id_a >= 100 or r.vec_id_b >= 100
    }
    assert got == batch and len(got) >= 10  # all ten planted dups found


def test_media_pluggable_fetcher_and_drop_rate(spark, docs):
    """Inject a fake fetcher (nulls every 3rd payload) and check the
    dropped/corrupt-payload rate surfaces in the metrics counters."""
    from canonicity_spark import extract

    def flaky_fetcher(media):
        synthetic = media.transform(media_mod_synthetic)
        return synthetic.withColumn(
            "payload",
            F.when(F.pmod(F.xxhash64("media_ref"), F.lit(3)) == 0, None).otherwise(
                F.col("payload")
            ),
        )

    def media_mod_synthetic(m):
        return media.synthetic_fetcher(m)

    spans = extract.explode_spans(docs)
    payloads = media.fetch_payloads(spans, fetcher=flaky_fetcher)
    obs: dict = {}
    feats = media.decode_features(payloads, observations=obs)
    n_out = feats.count()  # materialize -> observations populate
    m = media.drop_rate_metrics(obs)
    n_media = spans.filter(F.col("kind") != "text").count()
    n_nulled = payloads.filter(F.col("payload").isNull()).count()
    assert m["media_rows_in"] == n_media
    assert m["media_rows_out"] == n_out == n_media - n_nulled
    assert m["media_dropped"] == n_nulled > 0
    assert 0 < m["media_drop_rate"] < 1


def test_media_plumbing(spark, docs):
    from canonicity_spark import extract

    spans = extract.explode_spans(docs)
    payloads = media.fetch_payloads(spans)
    n_media = spans.filter(F.col("kind") != "text").count()
    assert payloads.count() == n_media
    feats = media.decode_features(payloads)
    rows = feats.collect()
    assert len(rows) == n_media
    for r in rows[:5]:
        assert r.n_bytes == 256
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-3
        assert (r.kind == "image") == (r.n_frames == 1)
    # deterministic across runs
    again = {(r.media_ref): r.feature for r in media.decode_features(payloads).collect()}
    assert all(again[r.media_ref] == r.feature for r in rows)
    # frame sampling plan: one row per sampled frame, bounded by n_frames
    frames = media.sample_frames(feats, every_nth=30)
    fmap = {r.media_ref: r.n_frames for r in rows if r.kind == "video"}
    per_ref = frames.groupBy("media_ref").count().collect()
    for r in per_ref:
        expected = (fmap[r.media_ref] - 1) // 30 + 1
        assert r["count"] == expected
