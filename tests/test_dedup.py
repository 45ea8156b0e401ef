"""Dedup ladder gates: planted exact copies must be recovered by every
tier (exact, minhash+LSH, simhash, n-gram Jaccard)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def ansi_on(spark):
    """Dedup math must be exact under the driver's ANSI-on session — the
    round-1 MinHash overflow only surfaced there (VERDICT r1 #1)."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield
    spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .limit(120)
        .cache()
    )


@pytest.fixture(scope="module")
def with_copies(docs):
    return docs.unionByName(docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))


def test_exact_dedup_first_wins(spark, with_copies):
    from spider_spark.functions.dedup import exact_dedup, exact_dedup_by_hash

    n = with_copies.count() // 2
    groups = exact_dedup(with_copies)
    assert groups.count() == n
    assert groups.filter("n_copies = 2").count() == n
    # first-wins: keep_id is always the original (lower) id
    assert groups.filter("keep_id >= 1000000").count() == 0
    assert exact_dedup_by_hash(with_copies).filter("n_copies = 2").count() == n


def test_minhash_recovers_planted_copies(spark, docs, with_copies):
    from spider_spark.functions.dedup import minhash_dedup

    pairs = minhash_dedup(with_copies, num_perm=32, bands=8, k=5, threshold=0.8).cache()
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {(r["doc_id"], r["doc_id"] + 1_000_000) for r in docs.collect()}
    missing = expected - got
    assert not missing, f"minhash+LSH missed {len(missing)} exact-copy pairs"
    # every surfaced pair really is >= threshold (verification stage ran)
    assert pairs.filter("jaccard < 0.8").count() == 0
    pairs.unpersist()


def _reference_signatures(df, num_perm, k=5, seed=42):
    """The explode × permutation-table formulation: min((a*h+b) mod p)
    per (doc, perm), ordered by perm."""
    import numpy as np

    from spider_spark.functions.dedup import MERSENNE31, shingle_col

    rng = np.random.RandomState(seed)
    perms = [
        (i, int(rng.randint(1, MERSENNE31)), int(rng.randint(0, MERSENNE31)))
        for i in range(num_perm)
    ]
    perm_df = df.sparkSession.createDataFrame(perms, "perm int, a long, b long")
    h = df.select("doc_id", F.explode(shingle_col(F.col("text"), k)).alias("s")).select(
        "doc_id", F.pmod(F.xxhash64("s"), F.lit(MERSENNE31)).alias("h")
    )
    v = F.pmod(F.col("a") * F.col("h") + F.col("b"), F.lit(MERSENNE31))
    mins = h.crossJoin(perm_df).groupBy("doc_id", "perm").agg(F.min(v).alias("mv"))
    return {
        r["doc_id"]: [m for _, m in sorted(r["pm"])]
        for r in mins.groupBy("doc_id").agg(F.collect_list(F.struct("perm", "mv")).alias("pm")).collect()
    }


@pytest.mark.parametrize("num_perm", [16, 32, 64])
def test_minhash_signatures_bit_identical_to_cross_join_reference(spark, docs, num_perm):
    from spider_spark.functions.dedup import minhash_signatures

    odd = spark.createDataFrame(
        [(-1, None), (-2, "abc"), (-3, ""), (-4, "same text here"), (-5, "same text here")],
        "doc_id long, text string",
    )
    corpus = docs.limit(40).unionByName(odd)
    got = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(corpus, num_perm=num_perm).collect()}
    assert got == _reference_signatures(corpus, num_perm)
    assert len(got) == 45 and all(len(sig) == num_perm for sig in got.values())
    assert got[-4] == got[-5]


def test_simhash_copies_have_zero_hamming(spark, docs, with_copies):
    from spider_spark.functions.dedup import simhash_near_pairs, simhash_signatures

    sigs = simhash_signatures(with_copies)
    pairs = simhash_near_pairs(sigs, max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {(r["doc_id"], r["doc_id"] + 1_000_000) for r in docs.collect()}
    assert expected <= got


def test_jaccard_verify_exact_copy_is_one(spark, docs, with_copies):
    from spider_spark.functions.dedup import jaccard_verify

    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1_000_000).alias("id_b")
    )
    out = jaccard_verify(with_copies, pairs, threshold=0.99)
    assert out.count() == docs.count()
    assert out.filter("jaccard < 1.0").count() == 0


def test_hot_bucket_cap_bounds_pairs(spark):
    """All-identical corpus: every band maps every doc to ONE bucket.
    Uncapped that is n² pairs; the cap must bound it and the stats must
    account for every dropped member (VERDICT r1 #8)."""
    from spider_spark.functions.dedup import (
        lsh_bucket_stats,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    n, cap, bands = 200, 16, 4
    same = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text, repeated everywhere").alias("text"),
    )
    sigs = minhash_signatures(same, num_perm=16, k=5).cache()
    pairs = lsh_candidate_pairs(sigs, bands=bands, max_bucket_size=cap)
    # identical sigs -> the same cap lowest ids survive in every band
    assert pairs.count() == cap * (cap - 1) // 2
    dropped = (
        lsh_bucket_stats(sigs, bands=bands, max_bucket_size=cap)
        .agg(F.sum("dropped").alias("d"))
        .first()["d"]
    )
    assert dropped == bands * (n - cap)
    sigs.unpersist()


def test_simhash_hot_chunk_cap(spark):
    from spider_spark.functions.dedup import simhash_near_pairs, simhash_signatures

    n, cap = 100, 8
    same = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("identical identical identical").alias("text")
    )
    sigs = simhash_signatures(same)
    pairs = simhash_near_pairs(sigs, max_hamming=0, max_bucket_size=cap)
    assert pairs.count() == cap * (cap - 1) // 2


def test_embedding_near_pairs_recovers_planted_vectors(spark):
    from spider_spark.functions.dedup import embedding_near_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    ).limit(80)
    planted = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    pairs = embedding_near_pairs(emb.unionByName(planted), threshold=0.99)
    got = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in pairs.collect()}
    expected = {(r["vec_id"], r["vec_id"] + 1_000_000) for r in emb.collect()}
    assert expected <= set(got)
    assert all(got[p] == 1.0 for p in expected)


def test_null_text_docs_keep_rows(spark):
    """NULL text must not vanish from signature stages (ADVICE r2): both
    minhash and simhash emit a signature row for a NULL-text doc."""
    from spider_spark.functions.dedup import minhash_signatures, simhash_signatures

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "")], "doc_id long, text string"
    )
    assert simhash_signatures(df).count() == 3
    assert minhash_signatures(df, num_perm=8).count() == 3
    # NULL and '' coalesce to the same signature (deterministic)
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    assert sigs[2] == sigs[3]


def test_embedding_near_pairs_empty_input(spark):
    from spider_spark.functions.dedup import embedding_near_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = embedding_near_pairs(empty)
    assert out.count() == 0
    assert set(out.columns) == {"id_a", "id_b", "cos_sim"}


def _capped_self_join(keyed, id_col, cap):
    """The blocking rule as a row_number-capped (band, bucket) self-join."""
    from pyspark.sql import Window

    if cap is not None:
        w = Window.partitionBy("band", "bucket").orderBy(id_col)
        keyed = keyed.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= cap)
    l, r = keyed.alias("l"), keyed.alias("r")
    return l.join(
        r,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def bucketed_corpus(spark, docs):
    """30 docs plus a group that shares every bucket: an original, four
    copies, an exact duplicate row of one copy and a NULL id (which,
    sorting first, leaves a cap of 2 no pair in the group's buckets)."""
    text = docs.orderBy("doc_id").first()["text"]
    extra = spark.createDataFrame(
        [(-1, text), (-2, text), (-2, text), (-3, text), (-4, text), (-5, text), (None, text)],
        "doc_id long, text string",
    )
    corpus = docs.orderBy("doc_id").limit(30).unionByName(extra).cache()
    yield corpus
    corpus.unpersist()


@pytest.mark.parametrize("cap", [None, 1, 2, 256])
def test_bucket_pairs_match_capped_self_join(spark, bucketed_corpus, cap):
    """LSH, SimHash and embedding candidates come from one grouped pass
    over the capped buckets; each must equal a row_number-capped
    self-join, row multiset for row multiset, including the duplicate id
    and the NULL id (which sorts first and takes a slot)."""
    from spider_spark.functions import dedup
    from spider_spark.functions.similarity import build_lsh_index, cosine_col

    sigs = dedup.minhash_signatures(bucketed_corpus, num_perm=16)
    ref = _capped_self_join(dedup._banded(sigs, "doc_id", 8), "doc_id", cap).select(
        F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")
    ).distinct()
    got = dedup.lsh_candidate_pairs(sigs, bands=8, max_bucket_size=cap)
    assert _rows(got) == _rows(ref)

    sh = dedup.simhash_signatures(bucketed_corpus)
    chunked = sh.select(
        "doc_id", "simhash",
        F.posexplode(F.expr(
            "transform(sequence(0, 3), c -> (shiftrightunsigned(simhash, c * 16) & 65535L))"
        )).alias("band", "bucket"),
    )
    hamming = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming")
    cand = _capped_self_join(chunked, "doc_id", cap).select(
        F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"), hamming
    ).distinct()
    for d in (0, 3, 64):
        got = dedup.simhash_near_pairs(sh, max_hamming=d, max_bucket_size=cap)
        assert _rows(got) == _rows(cand.filter(F.col("hamming") <= d))

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    ).orderBy("vec_id").limit(30)
    first = emb.first()
    extra = spark.createDataFrame(
        [(v, first["embedding"]) for v in (-1, -2, -2, -3, None)],
        "vec_id long, embedding array<float>",
    )
    emb = emb.unionByName(extra).cache()
    # 2 planes: 4 buckets, so every bucket holds more members than the caps
    keyed = build_lsh_index(emb, len(first["embedding"]), n_planes=2).select(
        "vec_id", "embedding", F.lit(0).alias("band"), F.col("sig").alias("bucket")
    )
    cos = F.round(cosine_col(F.col("l.embedding"), F.col("r.embedding")), 4).alias("cos_sim")
    ref = _capped_self_join(keyed, "vec_id", cap).select(
        F.col("l.vec_id").alias("id_a"), F.col("r.vec_id").alias("id_b"), cos
    )
    got = dedup.embedding_near_pairs(emb, threshold=-1.0, n_planes=2, max_bucket_size=cap)
    assert _rows(got) == _rows(ref.filter(F.col("cos_sim") >= -1.0))
    emb.unpersist()


def test_connected_components_matches_union_find(spark):
    """CC fixpoint over a seeded random graph == classic union-find."""
    import random

    from spider_spark.functions.dedup import connected_components

    rng = random.Random(7)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]
    edges += [(i, i + 1) for i in range(200, 240)]  # a 40-hop chain

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    expected = {x: min(y for y in touched if find(y) == find(x)) for x in touched}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["member"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected


def test_exact_dup_chain_edges_are_spanning(spark):
    """m identical docs -> exactly m-1 consecutive-id edges, no edges
    across distinct texts."""
    from spider_spark.functions.dedup import exact_dup_chain_edges

    rows = [(i, "dup") for i in range(5)] + [(10, "solo"), (20, "other"), (21, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["id_a"], r["id_b"]) for r in exact_dup_chain_edges(df).collect()
    )
    assert got == [(0, 1), (1, 2), (2, 3), (3, 4), (20, 21)]


def test_star_cc_matches_union_find_and_is_logarithmic(spark):
    """Large-star/small-star CC == union-find on a random graph, and a
    100-hop chain converges in O(log) rounds (min-label would need 100)."""
    import random

    from spider_spark.functions.dedup import connected_components_star

    rng = random.Random(11)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges += [(1000 + i, 1000 + i + 1) for i in range(100)]  # 100-hop chain

    parent = list(range(2000))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e if e[0] != e[1]}
    # drop pure self-loop-only nodes (star CC never sees them)
    real = {x for a, b in edges if a != b for x in (a, b)}
    expected = {x: min(y for y in real if find(y) == find(x)) for x in real}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    stats = {}
    got = {
        r["member"]: r["component"]
        for r in connected_components_star(df, stats=stats).collect()
    }
    assert got == expected
    assert stats["rounds"] <= 12, f"chain took {stats['rounds']} rounds"


def test_containment_pairs_full_vs_partial(spark):
    """containment_pairs semantics: a truncated copy scores containment
    1.0 (n_match == n_shingles) even though its Jaccard vs the source is
    ~0.5 (the mode the MinHash tier misses); a half-overlapping doc
    scores partial; unrelated docs never pair (no shared shingle)."""
    from spider_spark.functions.dedup import containment_pairs

    base_tokens = [f"w{i}" for i in range(30)]
    corpus = spark.createDataFrame(
        [(1, " ".join(base_tokens)), (2, " ".join(f"z{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    # 100: first 15 tokens of doc 1 (fully contained, 8 distinct 8-grams)
    # 200: 10 tokens of doc 1 + 10 novel (partial: 3 of 13 shingles match)
    # 300: unrelated
    queries = spark.createDataFrame(
        [
            (100, " ".join(base_tokens[:15])),
            (200, " ".join(base_tokens[:10] + [f"q{i}" for i in range(10)])),
            (300, " ".join(f"y{i}" for i in range(12))),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["id_contained"], r["id_container"]): (r["n_shingles"], r["n_match"])
        for r in containment_pairs(queries, corpus, k=8).collect()
    }
    assert rows[(100, 1)] == (8, 8)       # full containment: 15-7 shingles, all match
    n_sh, n_match = rows[(200, 1)]
    assert n_sh == 13 and n_match == 3    # only the 3 all-base 8-grams match
    assert not any(cid == 300 for cid, _ in rows)
    assert not any(cont == 2 for _, cont in rows)


def test_containment_full_pairs_invisible_to_minhash_threshold(spark):
    """The justification for the containment tier: the SAME planted
    half-doc pair that d10 recovers at containment 1.0 sits near Jaccard
    0.5 and is dropped by the minhash tier's 0.8 threshold."""
    from spider_spark.functions.dedup import jaccard_verify

    base = " ".join(f"tok{i}" for i in range(60))
    half = " ".join(f"tok{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, base), (2, half)], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    j = jaccard_verify(docs, cand, threshold=0.0).collect()[0]["jaccard"]
    assert j < 0.8, f"half-doc Jaccard {j} should sit below the near-dup threshold"


def test_blocked_fuzzy_pairs_multipass_recall_and_verify(spark):
    """d11's operator: a pair whose PREFIX key is broken by the edit
    must still be found through the intact suffix key (and vice versa);
    pairs past max_dist are dropped by the exact verify even when a
    blocking key matches."""
    from spider_spark.functions.dedup import blocked_fuzzy_pairs

    left = spark.createDataFrame(
        [(1, "alpha-0001-x"), (2, "alpha-0002-y"), (3, "alpha-0003-z")],
        "id long, t string",
    )
    right = spark.createDataFrame(
        [
            (101, "#lpha-0001-x"),   # edit in k1 -> found via k2
            (102, "alpha-0002-#"),   # edit in k2 -> found via k1
            (103, "alpha-####-z"),   # 4 edits: k1 broken, k2 intact -> candidate, verify kills
        ],
        "id long, t string",
    )
    key = lambda df: df.select(  # noqa: E731
        "id", "t",
        df.t.substr(1, 8).alias("k1"), df.t.substr(9, 4).alias("k2"),
    )
    got = {
        (r.id_l, r.id_r): r.dist
        for r in blocked_fuzzy_pairs(
            key(left), key(right), ["k1", "k2"], max_dist=2, id_col="id", text_col="t"
        ).collect()
    }
    assert got[(1, 101)] == 1 and got[(2, 102)] == 1
    assert (3, 103) not in got, "verify must reject past max_dist"


def test_containment_counts_distinct_shingles_of_a_repeating_doc(spark):
    """Docs that repeat an 8-gram have fewer distinct shingles than
    positions: n_shingles and n_match count each distinct shingle once
    on both sides, so the repeat is exactly full containment."""
    from spider_spark.functions.dedup import containment_pairs

    gram = [f"w{i}" for i in range(8)]
    # 17 tokens, 10 positions, 9 distinct 8-grams (gram itself twice)
    corpus = spark.createDataFrame(
        [(1, " ".join(gram * 2 + ["tail"]))], "doc_id long, text string"
    )
    # 24 tokens, 17 positions, 8 distinct 8-grams (the 8 rotations of gram)
    queries = spark.createDataFrame(
        [(100, " ".join(gram * 3))], "doc_id long, text string"
    )
    rows = containment_pairs(queries, corpus, k=8).collect()
    assert [(r["id_contained"], r["id_container"], r["n_shingles"], r["n_match"]) for r in rows] == [
        (100, 1, 8, 8)
    ]
