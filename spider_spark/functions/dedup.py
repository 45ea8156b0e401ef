"""Deduplication operators for document corpora.

Five tiers, from exact to fuzzy — the standard pretraining-data ladder:

1. exact:          hash-groupBy on content (first-wins, like the
                   reference's unique-key insert skip db_config.py:46-54)
2. minhash-LSH:    shingle → minhash signature → banded buckets —
                   all JVM (explode + one groupBy of per-permutation min
                   partial aggs); no Python in the hot path.
3. simhash:        64-bit near-dup signature, all-JVM (explode +
                   bit-majority partial agg), chunk-blocked candidates.
4. n-gram Jaccard: exact verification on candidate pairs via
                   array_intersect/array_union (JVM).
5. embedding-cosine near-dup: hyperplane-signature blocking + exact
                   cosine verify (embedding_near_pairs).

The MinHash estimate and the exact Jaccard verification stage let callers
trade recall for cost; candidates are generated by LSH banding so the
pair space never materializes n² rows.  Every bucketed tier (MinHash
bands, SimHash chunks, embedding signatures) takes its candidate pairs
from one grouped pass over capped buckets (_bucket_pairs), never from a
self-join.

All five tiers emit PAIRS; connected_components() is the shared
canonicalization step that folds any pair stream into keep/drop clusters
(member -> smallest reachable id).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 31-bit Mersenne prime: with a, h < 2^31 and b < 2^31 the product
# a*h + b < 2^62 always fits a signed int64, so the permutation hash is
# exact under Spark 4's default ANSI mode (no ARITHMETIC_OVERFLOW) and
# identical under classic mode.  A 61-bit prime would overflow int64.
MERSENNE31 = (1 << 31) - 1


# ---------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per exact content group (first-wins)."""
    return df.groupBy(content_col).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def exact_dedup_by_hash(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Same, but groups on xxhash64(content) — at 100 TB you shuffle 8-byte
    keys, not document bodies."""
    return (
        df.select(F.col(id_col), F.xxhash64(F.col(content_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ------------------------------------------------------------- shingles
def shingle_col(text: Column, k: int = 5) -> Column:
    """Character k-shingles as an array — JVM higher-order fn, no UDF.
    NULL text coalesces to '' (one empty shingle) so NULL-text docs keep
    a row through explode-based stages instead of vanishing.  Never
    empty, so callers explode_outer it: a plain explode makes Spark
    infer a size() > 0 filter that shingles every doc a second time."""
    safe = F.coalesce(text, F.lit(""))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(safe) - k + 1, F.lit(1))),
            lambda i: safe.substr(i, F.lit(k)),
        )
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """The (id, shingles) frame that signatures and verification share."""
    return df.select(F.col(id_col), shingle_col(F.col(text_col), k).alias("shingles"))


# -------------------------------------------------------------- minhash
def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, sig:array<long>) MinHash signatures, all JVM: explode
    shingles → pmod(xxhash64, p) once per shingle → ONE groupBy(id)
    whose only aggregate is array(min((a_0*h+b_0) mod p), ...), so the
    shuffle carries num_perm partial minima per document and no
    (shingle × permutation) row ever exists.

    Universal-hash family over the 31-bit Mersenne prime p = 2^31-1:
    a ∈ [1, p), b ∈ [0, p) drawn from RandomState(seed) as (a, b) per
    permutation, shingle hash pre-reduced mod p, so every intermediate
    fits int64 exactly (ANSI-safe, see MERSENNE31 note).
    """
    return _signatures(_shingled(df, id_col, text_col, k), id_col, num_perm, seed)


def _signatures(sh: DataFrame, id_col: str, num_perm: int, seed: int) -> DataFrame:
    rng = np.random.RandomState(seed)
    # draws a, then b, per permutation; ONE SQL string, as a Column per
    # permutation costs py4j round trips on every call
    mins = ", ".join(
        f"min(pmod({rng.randint(1, MERSENNE31)} * h + {rng.randint(0, MERSENNE31)}, {MERSENNE31}))"
        for _ in range(num_perm)
    )
    return (
        sh.select(id_col, F.explode_outer("shingles").alias("s"))
        .select(id_col, F.pmod(F.xxhash64("s"), F.lit(MERSENNE31)).alias("h"))
        .groupBy(id_col)
        .agg(F.expr(f"array({mins})").alias("sig"))
    )


def _banded(sigs: DataFrame, id_col: str, bands: int) -> DataFrame:
    n = bands
    return sigs.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n - 1}), b -> "
                f"xxhash64(concat_ws(',', slice(sig, b * (size(sig) div {n}) + 1, size(sig) div {n}))))"
            )
        ).alias("band", "bucket"),
    )


def _bucket_pairs(
    keyed: DataFrame, id_col: str, max_bucket_size: int | None, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(a, b) member structs of struct(id_col, *carry), one row per pair
    co-bucketed in a band, a.id < b.id: the blocking rule of every
    bucketed tier, from (band, bucket[, carry...]) rows.

    ONE groupBy(band, bucket) collects each bucket's members sorted by
    id; a hot bucket (boilerplate-heavy corpus, all-identical docs)
    keeps only its max_bucket_size lowest ids (None: all), so it yields
    at most cap²/2 pairs while the kept low ids still anchor their
    cluster (dropped members keep their chance through other bands; see
    lsh_bucket_stats).  Pairs come from two generators, each member then
    the members after it, so a row never holds more than one bucket's
    members.  No self-join: each side of a join recomputes its subtree.
    A NULL bucket pairs nothing; a NULL id sorts first, takes a slot
    and pairs with nothing."""
    members = F.sort_array(F.collect_list(F.struct(id_col, *carry)))
    if max_bucket_size is not None:
        members = F.slice(members, 1, max_bucket_size)
    return (
        keyed.filter(F.col("bucket").isNotNull())
        .groupBy("band", "bucket")
        .agg(members.alias("m"))
        .select("m", F.posexplode("m").alias("i", "a"))
        .select("a", F.explode(F.expr("slice(m, i + 2, size(m))")).alias("b"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )


def lsh_bucket_stats(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 16, max_bucket_size: int | None = 256
) -> DataFrame:
    """(band, bucket, size, dropped) accounting for oversized LSH buckets —
    callers log the dropped-member total so a capped run never silently
    reads as full coverage."""
    cap = max_bucket_size if max_bucket_size is not None else (1 << 62)
    return (
        _banded(sigs, id_col, bands)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("size"))
        .withColumn("dropped", F.greatest(F.col("size") - F.lit(cap), F.lit(0)))
        .filter(F.col("dropped") > 0)
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Band the signatures; docs sharing a (band, band-hash) bucket become
    candidate pairs, from one grouped pass over the capped buckets
    (_bucket_pairs), so no bucket goes quadratic."""
    return (
        _bucket_pairs(_banded(sigs, id_col, bands), id_col, max_bucket_size)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (array_intersect/union)."""
    return _verify(_shingled(df, id_col, text_col, k), pairs, id_col, threshold)


def _verify(sh: DataFrame, pairs: DataFrame, id_col: str, threshold: float) -> DataFrame:
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter, union = F.size(F.array_intersect("sh_a", "sh_b")), F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    threshold: float = 0.8,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → exact verify,
    both ends reading one shingled frame.  Returns (id_a, id_b, jaccard)
    for pairs ≥ threshold."""
    sh = _shingled(df, id_col, text_col, k)
    sigs = _signatures(sh, id_col, num_perm, seed=42)
    pairs = lsh_candidate_pairs(sigs, id_col, bands, max_bucket_size)
    return _verify(sh, pairs, id_col, threshold)


# -------------------------------------------------------------- simhash
def simhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash, entirely JVM-side (no Python in the hot path):

    explode tokens → xxhash64 per token → one groupBy with 64 partial-agg
    sums (bit j contributes +1 if set, -1 if clear, weighted by token
    frequency via the explode) → majority vote per bit → OR the bits back
    into one long.  Map-side combine keeps the shuffle at 64 longs/doc.

    Ties (sum == 0, incl. empty/whitespace-only docs) vote 1, matching
    the classic popcount*2 >= n convention.
    """
    # NULL text must still yield a signature (explode would silently drop
    # the doc and break every-doc oracles): coalesce to '' -> one empty
    # token -> deterministic all-ties signature.
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")).alias("tok"),
    ).select(id_col, F.xxhash64("tok").alias("h"))
    sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1)).cast("long") * 2 - 1
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(64):
        bit = F.when(F.col(f"b{j}") >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, j))
    return sums.select(id_col, sig.alias("simhash"))


def simhash_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Candidate pairs with Hamming distance ≤ max_hamming, blocked on
    16-bit signature chunks (a pair within distance d shares at least one
    of 4 chunks if d < 4 — pigeonhole).  Chunk buckets are capped like
    LSH buckets so an all-identical corpus can't go quadratic."""
    chunked = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), c -> (shiftrightunsigned(simhash, c * 16) & 65535L))"
            )
        ).alias("band", "bucket"),
    )
    pairs = (
        _bucket_pairs(chunked, id_col, max_bucket_size, carry=("simhash",))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ------------------------------------- dup-cluster canonicalization (CC)
def exact_dup_chain_edges(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Sparse spanning-chain edges inside each exact-duplicate group:
    members ordered by id, consecutive pairs via lag().  A group of m
    identical docs yields m-1 edges (never m²/2), and no per-group array
    is ever collected — one window shuffle on the 8-byte content hash, so
    an all-boilerplate 100 TB corpus stays linear."""
    from pyspark.sql import Window

    w = Window.partitionBy("_h").orderBy(id_col)
    return (
        df.select(F.xxhash64(F.col(content_col)).alias("_h"), F.col(id_col))
        .withColumn("_prev", F.lag(id_col).over(w))
        .filter(F.col("_prev").isNotNull())
        .select(F.col("_prev").alias("id_a"), F.col(id_col).alias("id_b"))
    )


def connected_components(
    edges: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Connected components over a near-dup pair graph -> (member,
    component), component = smallest reachable id — the canonical-doc
    assignment step that turns pairwise dedup output (d1-d5 tiers) into
    keep/drop clusters.

    Algorithm: undirected min-label propagation — each round every node
    takes the min label over itself and its neighbors; one shuffle
    (groupBy node) per round, map-side combined, converging in
    O(component diameter) rounds.  Dedup clusters are shallow (near-dup
    graphs are locally dense), so 2-5 rounds in practice; ``max_iter``
    bounds adversarial chains.  Lineage is cut with an eager
    localCheckpoint every round so the plan stays O(1) deep, and the
    convergence check is a LIMIT-1 existence probe, not a full count.

    For graphs with giant high-diameter components use
    ``connected_components_star`` (O(log²) rounds); this min-label form
    keeps every round a plain groupBy and wins on the shallow clusters
    dedup actually produces.
    """
    sym = (
        edges.select(F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v"))
        .unionAll(
            edges.select(F.col(id_b).cast("long").alias("u"), F.col(id_a).cast("long").alias("v"))
        )
        .distinct()
    )
    labels = (
        sym.select(F.col("u").alias("member"))
        .distinct()
        .withColumn("component", F.col("member"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = sym.join(labels.withColumnRenamed("member", "v"), "v").select(
            F.col("u").alias("member"), "component"
        )
        new = (
            labels.unionByName(nbr)
            .groupBy("member")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        improved = (
            new.withColumnRenamed("component", "_new")
            .join(labels, "member")
            .filter(F.col("_new") < F.col("component"))
            .limit(1)
            .count()
        )
        labels = new
        if improved == 0:
            break
    return labels


def connected_components_star(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction [Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm]: converges in O(log²) rounds
    regardless of component diameter, vs O(diameter) for the min-label
    form — the scale path when components can be long chains (URL
    redirect chains, citation paths), where label propagation would need
    thousands of shuffles.

    Each phase is one window-min over the node partition + a projection
    (no Python, no collect): large-star hangs every larger neighbor off
    the neighborhood min; small-star re-hangs the smaller neighbors.
    The edge set monotonically contracts toward stars centered at each
    component's minimum; fixpoint = edge set unchanged.  Output matches
    connected_components: (member, component).

    ``stats``, if given, receives {"rounds": n} — tests use it to prove
    the logarithmic behavior on chains.
    """
    from pyspark.sql import Window

    cur = (
        edges.select(F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star: symmetrize; m = min(N(u) ∪ {u}); emit (v, m) for v > u
        sym = cur.unionAll(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        wu = Window.partitionBy("u")
        t = sym.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
        large = (
            t.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the (larger -> smaller) orientation:
        # m = min(Nsmall(u) ∪ {u}); emit (v, m) for v != m, plus (u, m)
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        t2 = oriented.withColumn("m", F.min("v").over(wu))
        new = (
            t2.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(t2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        unchanged = (
            new.count() == cur.count()
            and new.exceptAll(cur).limit(1).count() == 0
        )
        cur = new
        if unchanged:
            break
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint is a star forest: (x, m) edges with centers m never on the
    # left — members are the spokes plus the centers themselves
    return cur.select(F.col("u").alias("member"), F.col("v").alias("component")).unionByName(
        cur.select(F.col("v").alias("member"), F.col("v").alias("component")).distinct()
    )


# ------------------------------------------------- embedding near-dup
def embedding_near_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    seed: int = 42,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Tier 5 of the dedup ladder: embedding-cosine near-duplicates.

    Blocking: random-hyperplane signature (similarity.build_lsh_index,
    Arrow-batched matmul, runs once) → docs sharing the EXACT signature
    become candidates — identical/near-identical vectors always collide,
    and at thresholds near 1 exact-signature blocking keeps recall high
    while the pair space stays linear in bucket sizes (capped like the
    MinHash buckets).  Verify: exact cosine (JVM zip_with/aggregate).
    """
    from .similarity import build_lsh_index, cosine_col

    row = emb.select(vec_col).first()
    if row is None:  # empty input: no pairs, keep the output schema
        return emb.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cos_sim double"
        )
    dim = len(row[vec_col])
    sigs = build_lsh_index(emb, dim, id_col, vec_col, n_planes, seed).withColumn(
        "band", F.lit(0)
    ).withColumnRenamed("sig", "bucket")
    pairs = _bucket_pairs(sigs, id_col, max_bucket_size, carry=(vec_col,)).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(cosine_col(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 4).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= threshold)


# ------------------------------------------------------- containment
def word_shingles(df: DataFrame, k: int = 8, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-doc DISTINCT word k-gram shingles as one array — JVM tokenize
    (lowercase [a-z0-9]+ runs) + transform/slice + array_distinct, no
    Python.  Docs with fewer than k tokens yield no row, so the array is
    never empty (see shingle_col on explode_outer).  Output: (id_col,
    shingles array<string>)."""
    toks = df.select(
        id_col,
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0).alias("t"),
    ).filter(F.size("t") >= k)
    return toks.select(
        id_col,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice("t", i, k)),
            )
        ).alias("shingles"),
    )


def containment_pairs(
    contained: DataFrame,
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric containment dedup — the near-dup mode the
    similarity ladder misses: a SHORT doc fully embedded in a longer one
    (boilerplate-wrapped article, quoted post, truncated mirror) has low
    Jaccard similarity but containment 1.0.  C(a in b) =
    |shingles(a) ∩ shingles(b)| / |shingles(a)|.

    Query side (`contained`, the suspected-subset docs) shingles
    equi-join the corpus side on the shingle — never all-pairs; only
    doc pairs sharing >= 1 k-gram meet.  Each doc is shingled once:
    n_shingles is the size of its distinct-shingle array, carried
    through the match groupBy.  Counts stay INTEGER
    (n_match, n_shingles) so full containment is the engine-exact
    predicate n_match == n_shingles; callers threshold partial
    containment as n_match >= tau * n_shingles.  At 100 TB: join on
    xxhash64(shingle) (8-byte key), drop stop-shingles above a document
    frequency cap first (the role of the bucket cap in _bucket_pairs —
    a boilerplate shingle shared by 10^6 docs must not go quadratic).

    Output: (id_contained, id_container, n_shingles, n_match) — one row
    per candidate pair with at least one shared shingle."""
    a = word_shingles(contained, k, id_col, text_col).select(
        F.col(id_col).alias("id_contained"),
        F.size("shingles").cast("long").alias("n_shingles"),
        F.explode_outer("shingles").alias("shingle"),
    )
    b = word_shingles(corpus, k, id_col, text_col).select(
        F.col(id_col).alias("id_container"), F.explode_outer("shingles").alias("shingle")
    )
    return (
        a.join(b, "shingle")
        .filter(F.col("id_contained") != F.col("id_container"))
        .groupBy("id_contained", "id_container", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )


def blocked_fuzzy_pairs(
    left: DataFrame,
    right: DataFrame,
    block_cols: list[str],
    max_dist: int = 2,
    id_col: str = "doc_id",
    text_col: str = "title",
) -> DataFrame:
    """Fuzzy record linkage: multi-pass blocking + edit-distance verify
    — the entity-matching operator (match company names / titles / URLs
    that differ by typos) that neither the shingle tier (d2/d10, token
    granularity) nor the embedding tier (s13, semantic granularity)
    covers.

    Classic multi-pass blocking: candidates = UNION of equi-joins on
    each blocking key, deduplicated, then verified with exact
    Levenshtein.  A pair is findable iff at least ONE blocking key
    survives the edits — callers choose keys so any max_dist-edit
    burst leaves one intact (e.g. disjoint prefix/suffix keys for
    substitution-only noise).  Never all-pairs: cost is sum over blocks
    of |L_b| x |R_b|, and a hot block (every title sharing a prefix)
    is the caller's key-design problem, exactly like LSH band width.

    At 100 TB: blocking keys are short strings — shuffle is O(corpus),
    the verify runs only on candidates, and levenshtein() is JVM
    codegen (no python).  Reference analog: the operator-name match
    that joins crawled company pages to the registry in
    flask_spider/spider/shixin_spider.py's name-keyed lookups, made
    typo-tolerant.

    Output: (id_l, id_r, dist) — verified pairs with dist <= max_dist,
    one row per (id_l, id_r) even when multiple keys matched."""
    l_sel = left.select(
        F.col(id_col).alias("id_l"), F.col(text_col).alias("t_l"), *block_cols
    )
    r_sel = right.select(
        F.col(id_col).alias("id_r"), F.col(text_col).alias("t_r"), *block_cols
    )
    cand = None
    for k in block_cols:
        c = l_sel.select("id_l", "t_l", k).join(
            r_sel.select("id_r", "t_r", k), k
        ).select("id_l", "id_r", "t_l", "t_r")
        cand = c if cand is None else cand.unionByName(c)
    verified = (
        cand.dropDuplicates(["id_l", "id_r"])
        .withColumn("dist", F.levenshtein("t_l", "t_r"))
        .filter(F.col("dist") <= max_dist)
    )
    return verified.select("id_l", "id_r", "dist")


def prefix_filter_pairs(
    toks: DataFrame,
    threshold: tuple[int, int] = (4, 5),
    id_col: str = "doc_id",
    token_col: str = "tok",
) -> DataFrame:
    """EXACT Jaccard-threshold similarity self-join via prefix filtering
    (the AllPairs / PPJoin family — Bayardo, Ma & Srikant, WWW'07;
    Xiao et al., WWW'08).  The tier the MinHash ladder cannot provide:
    LSH banding trades recall for cost, while the prefix filter finds
    EVERY pair with Jaccard >= threshold and NO false positives —
    candidate generation is a pruned equi-join, never all-pairs, and
    verification is exact.

    Candidate rule: order each set's tokens by a global canonical order
    (document frequency ascending, token ascending — rarest first) and
    keep only the first ``n - ceil(t*n) + 1`` as its prefix.  If
    J(x, y) >= t = num/den, the overlap i satisfies i >= ceil(t*|x|)
    (J = i/union and union >= |x|), so by pigeonhole the rank-smallest
    common token lies inside BOTH prefixes: were it outside x's prefix,
    all i common tokens would sit among x's last ceil(t*|x|) - 1
    tokens — a contradiction.  Joining prefixes on the token therefore
    surfaces every qualifying pair.

    Everything is integer: the prefix bound uses BIGINT ceil-division
    and the verify predicate is (den+num)*i >= num*(na+nb)
    (equivalent to i/(na+nb-i) >= num/den), so results are engine-exact
    with zero float tolerance.

    Plan shape: token df join (one token shuffle), per-doc rank window
    (one id shuffle), prefix self-equi-join on the token, then a
    candidate-bounded array_intersect verify against per-doc sorted
    token arrays — all JVM.  At 100 TB: join on xxhash64(token), and
    cap token document frequency before the prefix join (a boilerplate
    token shared by 10^6 docs belongs to no useful prefix — the rule of
    the LSH tier's bucket cap in _bucket_pairs); rarest-first ordering
    already pushes prefixes toward low-df tokens, which is what makes
    the candidate join sub-quadratic.

    Input: (id_col, token_col) rows — callers tokenize (duplicates
    dropped here; Jaccard is over SETS).  Output: (id_a, id_b, n_inter,
    n_union) for every pair meeting the threshold, id_a < id_b."""
    from pyspark.sql import Window

    num, den = threshold
    t = (
        toks.select(id_col, token_col)
        .dropDuplicates([id_col, token_col])
        .localCheckpoint(eager=True)  # df-count, rank join, and verify all consume it
    )
    dfreq = t.groupBy(token_col).agg(F.count(F.lit(1)).alias("_df"))
    wdoc = Window.partitionBy(id_col)
    pos = t.join(dfreq, token_col).select(
        id_col,
        token_col,
        F.row_number().over(wdoc.orderBy("_df", token_col)).alias("_pos"),
        F.count(F.lit(1)).over(wdoc).alias("_n"),
    )
    pref = pos.filter(
        F.col("_pos")
        <= F.col("_n") - F.expr(f"({num} * _n + {den} - 1) div {den}") + 1
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), token_col)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = t.groupBy(id_col).agg(
        F.sort_array(F.collect_set(token_col)).alias("_arr"),
        F.count(F.lit(1)).alias("_n"),
    )
    scored = (
        cand.join(
            sets.select(
                F.col(id_col).alias("id_a"),
                F.col("_arr").alias("_aa"),
                F.col("_n").alias("_na"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"),
                F.col("_arr").alias("_ab"),
                F.col("_n").alias("_nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_aa", "_ab")).cast("long").alias("n_inter"),
            (F.col("_na") + F.col("_nb")).cast("long").alias("_sum"),
        )
    )
    return (
        scored.filter(F.col("n_inter") * (den + num) >= F.col("_sum") * num)
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (F.col("_sum") - F.col("n_inter")).alias("n_union"),
        )
    )
