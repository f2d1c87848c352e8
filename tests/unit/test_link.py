"""Unit tests for the linking stage (SURVEY.md §2.D L1–L8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from canonicity_spark import extract, fixtures, link
from canonicity_spark.schemas import ALIAS_DICT


def _mentions(spark, surfaces):
    rows = [(f"m{i}", s, fixtures.norm(s)) for i, s in enumerate(surfaces)]
    return spark.createDataFrame(rows, ["mention_id", "surface", "norm_surface"])


def _dict(spark, rows):
    return spark.createDataFrame(rows, schema=ALIAS_DICT)


def test_shingles_builtin_matches_python(spark):
    df = spark.createDataFrame([("acme corp",), ("ab",)], ["s"])
    got = df.select(F.array_sort(link.shingles_col(F.col("s"))).alias("sh")).collect()
    assert set(got[0].sh) == fixtures._shingles("acme corp")
    assert set(got[1].sh) == {"ab"}


def test_alias_exact_match_is_broadcast_join(spark):
    m = _mentions(spark, ["Acme Corp", "zeta"])
    d = _dict(spark, [("acme corp", "E1", 0.9), ("zeta", "E2", 0.5)])
    links = link.run(m, d)
    got = {r.norm_surface: (r.entity_id, r.score) for r in links.collect()}
    assert got == {"acme corp": ("E1", 1.0), "zeta": ("E2", 1.0)}
    # the physical plan must broadcast the dictionary side (L1)
    plan = link.alias_candidates(
        link.distinct_surfaces(m), link.normalize_alias_dict(d)
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_lsh_recovers_misspelling(spark):
    m = _mentions(spark, ["acme corporation", "acme corporatoin"])  # swap typo
    d = _dict(spark, [("acme corporation", "E1", 0.9), ("other name", "E2", 0.1)])
    links = link.run(m, d)
    got = {r.norm_surface: r.entity_id for r in links.collect()}
    assert got["acme corporatoin"] == "E1"


def test_band_join_broadcast_guard_falls_back_above_bound(spark):
    """Round 8 (VERDICT round 7 #4): broadcast_build is size-guarded —
    a build side over the row bound degrades to the shuffled join
    (identical candidates) instead of a multi-GB broadcast OOM; under
    the bound the broadcast still fires (plan-asserted)."""
    probe = spark.createDataFrame(
        [(f"p{i}", i % 3, f"h{i % 4}") for i in range(12)],
        ["norm_surface", "band_id", "band_hash"],
    )
    build = spark.createDataFrame(
        [(f"b{i}", i % 3, f"h{i % 4}") for i in range(10)],
        ["cand_alias", "band_id", "band_hash"],
    )

    def rows(df):
        return {(r.norm_surface, r.cand_alias) for r in df.collect()}

    small_bound = link.band_join(
        probe, build, broadcast_build=True, broadcast_max_rows=3
    )
    normal = link.band_join(probe, build, broadcast_build=True)
    plain = link.band_join(probe, build)
    assert rows(small_bound) == rows(normal) == rows(plain) and rows(plain)
    # under the bound the build side is broadcast; over it, not forced
    # (the tiny frames may still auto-broadcast, so assert only the
    # under-bound direction)
    plan = normal._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_band_join_hot_bucket_exclusion(spark):
    """L4 skew guard in isolation (ADVICE round 2): a build-side bucket
    over max_bucket is dropped entirely; the others still join."""
    probe = spark.createDataFrame(
        [("p1", 0, "hot"), ("p2", 0, "cold")],
        ["norm_surface", "band_id", "band_hash"],
    )
    build = spark.createDataFrame(
        [(f"b{i}", 0, "hot") for i in range(5)] + [("bc", 0, "cold")],
        ["cand_alias", "band_id", "band_hash"],
    )
    got = link.band_join(probe, build, max_bucket=3).collect()
    assert {(r.norm_surface, r.cand_alias) for r in got} == {("p2", "bc")}
    # with the cap above the bucket size, the hot bucket joins normally
    assert link.band_join(probe, build, max_bucket=10).count() == 6


def test_nil_routing(spark):
    m = _mentions(spark, ["completely unrelated"])
    d = _dict(spark, [("acme corporation", "E1", 0.9)])
    links = link.run(m, d)
    row = links.first()
    assert row.entity_id == "new:completely unrelated"
    assert row.gen_source == "nil"


def test_score_formula_matches_python_mirror(spark):
    pairs = [
        ("acme corp", "acme corporation"),
        ("zorvex labs", "zorvex lab"),
        ("abc", "xyz"),
        ("same", "same"),
    ]
    df = spark.createDataFrame(pairs, ["norm_surface", "cand_alias"])
    got = {
        (r.norm_surface, r.cand_alias): r.score
        for r in link.score_candidates(df).collect()
    }
    for s, a in pairs:
        assert abs(got[(s, a)] - fixtures.link_score(s, a)) < 1e-6, (s, a)


def test_top_links_deterministic_tiebreak(spark):
    cands = spark.createDataFrame(
        [
            ("x", 1, "x1", "E2", 0.5, "lsh"),
            ("x", 1, "x1", "E1", 0.5, "lsh"),  # same score & prior -> min entity wins
        ],
        ["norm_surface", "freq", "cand_alias", "cand_entity_id", "prior", "gen_source"],
    ).withColumn("score", F.lit(0.9))
    best = link.top_links(cands, k=1).collect()
    assert len(best) == 1 and best[0].entity_id == "E1"


def test_top_links_agg_path_equals_window_path(spark):
    """The k=1 min_by aggregate (round 6: no sort, map-side combine)
    must pick exactly the row the rank-window picks, across every
    tie-break depth and with NULL priors (desc_nulls_last ≡ the
    +inf-mapped ordering key)."""
    rows = [
        # (surface, freq, alias, entity, prior, source, score)
        ("a", 3, "a1", "E9", 0.9, "lsh", 0.7),   # lower score loses
        ("a", 3, "a2", "E2", 0.1, "lsh", 0.8),
        ("a", 3, "a3", "E3", 0.9, "lsh", 0.8),   # higher prior wins at tied score
        ("b", 1, "b2", "E5", None, "lsh", 0.6),  # NULL prior sorts last...
        ("b", 1, "b1", "E6", 0.0, "lsh", 0.6),   # ...so 0.0 beats it
        ("c", 2, "c9", "E7", None, "lsh", 0.5),  # all-NULL prior group:
        ("c", 2, "c0", "E8", None, "lsh", 0.5),  # min entity wins
        ("d", 5, "d2", "E4", 0.5, "alias", 1.0),
        ("d", 5, "d1", "E4", 0.5, "lsh", 1.0),   # same entity: min alias wins
        ("e", 1, "e1", "EA", 0.9, "lsh", None),  # NULL score sorts last...
        ("e", 1, "e2", "EB", 0.1, "lsh", 0.1),   # ...so any real score beats it
        ("f", 1, "f2", "ED", None, "lsh", None),  # all-NULL score group:
        ("f", 1, "f1", "EC", None, "lsh", None),  # min entity wins
    ]
    cands = spark.createDataFrame(
        rows,
        "norm_surface string, freq int, cand_alias string, cand_entity_id string,"
        " prior double, gen_source string, score double",
    )
    agg = {r.norm_surface: r for r in link.top_links(cands, k=1).collect()}
    # k=2 takes the window path; its rank-1 rows are the window's top-1
    win = {
        r.norm_surface: r
        for r in link.top_links(cands, k=2).filter("rank = 1").collect()
    }
    assert set(agg) == set(win) == {"a", "b", "c", "d", "e", "f"}
    for s in agg:
        assert agg[s] == win[s], (s, agg[s], win[s])
    assert agg["a"].entity_id == "E3"
    assert agg["b"].entity_id == "E6"
    assert agg["c"].entity_id == "E7"
    assert agg["d"].gen_source == "lsh"  # d1 < d2
    assert agg["e"].entity_id == "EB"
    assert agg["f"].entity_id == "EC"


def test_full_corpus_links_all_surfaces_correctly(spark, docs, alias_dict, corpus_dir):
    mentions, _ = extract.run(docs)
    links = link.run(mentions, alias_dict)
    import pyarrow.parquet as pq

    gold = {
        r["surface"]: r["entity_id"]
        for r in pq.read_table(f"{corpus_dir}/golden_clusters.parquet").to_pylist()
    }
    for r in links.collect():
        assert gold.get(r.norm_surface) == r.entity_id, (
            r.norm_surface,
            r.entity_id,
            gold.get(r.norm_surface),
        )


def test_minhash_signature_estimates_jaccard(spark):
    """Standalone L3 operator: the fraction of agreeing signature slots
    is an unbiased jaccard estimate; identical inputs hash identically."""
    from canonicity_spark import fixtures

    a, b = "acme corporation", "acme corporatoin"
    df = spark.createDataFrame([(a,), (a,), (b,)], ["s"])
    sigs = df.select(
        link.minhash_signature(link.shingles_col(F.col("s"))).alias("sig")
    ).collect()
    s0, s1, s2 = (r.sig for r in sigs)
    assert s0 == s1  # deterministic
    agree = sum(x == y for x, y in zip(s0, s2)) / len(s0)
    sa, sb = fixtures._shingles(a), fixtures._shingles(b)
    jac = len(sa & sb) / len(sa | sb)
    assert abs(agree - jac) < 0.25  # 64 hashes -> coarse but centered estimate


def _band_hashes_mod_reference(t, a, b, k, n_bands, n_rows, shingle_n, dense_max):
    """band_hashes_of_text with the plain ``% _MERSENNE`` reductions the
    folded kernel replaced — stored MinHash indexes need byte-identical
    bands, so the kernel is pinned to this formula."""
    import zlib

    import numpy as np

    if not t:
        return [0] * n_bands
    weights = link._SHINGLE_WEIGHTS[:shingle_n]
    buf = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if len(buf) < shingle_n:
        hs = np.array([(buf * weights[: len(buf)]).sum()], dtype=np.uint64)
    else:
        win = np.lib.stride_tricks.sliding_window_view(buf, shingle_n)
        hs = (win * weights[None, :]).sum(axis=1)
    sh = np.unique(hs).astype(np.int64) & np.int64(0x7FFFFFFFFFFFFFFF)
    m = link._MERSENNE
    if len(sh) <= dense_max:
        sig = ((sh.reshape(-1, 1) * a[None, :] + b[None, :]) % m).min(axis=0)
    else:
        mixed = (sh * a[0] + b[0]) % m
        sig = np.full(k, m, dtype=np.int64)
        np.minimum.at(sig, mixed % k, mixed)
        for _ in range(2):
            for i in range(k):
                if sig[i] == m:
                    sig[i] = sig[(i - 1) % k]
    bands = sig.reshape(n_bands, n_rows)
    return [zlib.crc32(bands[i].tobytes()) for i in range(n_bands)]


def test_mersenne_fold_matches_floor_mod():
    """The division-free reduction equals numpy's int64 floor mod on the
    edge values of the wrapped product domain and on random int64."""
    import numpy as np

    m = link._MERSENNE
    edges = np.array(
        [0, 1, -1, m, -m, 2 * m, -2 * m, m - 1, m + 1, -m - 1, -8, -9, 7, -7,
         np.iinfo(np.int64).min, np.iinfo(np.int64).max,
         np.iinfo(np.int64).min + 1, np.iinfo(np.int64).max - 1],
        dtype=np.int64,
    )
    rnd = np.random.RandomState(0).randint(
        np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=200_000, dtype=np.int64
    )
    for x in (edges, rnd, rnd.reshape(400, 500)):
        assert np.array_equal(link._mod_mersenne(x.copy()), x % m)


def test_band_hashes_match_mod_reference_both_geometries():
    """Bands from the folded kernel equal the ``%`` formula at the linker
    geometry (64 = 32x2, 3-grams) and the doc-dedup geometry (128 = 16x8,
    5-grams), on texts below the dense cutover and above it (OPH)."""
    import random

    from canonicity_spark import similarity

    rng = random.Random(3)
    words = ["".join(rng.choice("abcdefghij klmnoé") for _ in range(rng.randint(1, 40)))
             for _ in range(300)]
    long_texts = [" ".join(rng.choice(words) for _ in range(400)) for _ in range(8)]
    texts = [None, "", "a", "ab", "abc", "日本語"] + words + long_texts
    geometries = [
        (link.MINHASH_K, link.LSH_BANDS, link.LSH_ROWS, 3),
        (similarity.DOC_MINHASH_K, similarity.DOC_BANDS, similarity.DOC_ROWS, 5),
    ]
    for k, n_bands, n_rows, shingle_n in geometries:
        a, b = link._hash_params(k)
        dense_max = 4 * k
        n_oph = 0
        for t in texts:
            got = link.band_hashes_of_text(t, a, b, k, n_bands, n_rows, shingle_n, dense_max)
            want = _band_hashes_mod_reference(
                t, a, b, k, n_bands, n_rows, shingle_n, dense_max
            )
            assert got == want, (k, t)
            raw = (t or "").encode("utf-8")
            n_shingles = len({raw[i : i + shingle_n] for i in range(len(raw) - shingle_n + 1)})
            n_oph += n_shingles > dense_max
        assert n_oph >= 1  # the OPH branch was exercised too
