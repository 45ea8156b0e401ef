"""Catalog part 2: windows (sessionize, ntile), array ops, and the
training-data pipeline operators (dedup / similarity /
text analysis / multimodal) over the testdata tables.

Entries without an oracle are genuinely non-SQL-expressible in DuckDB
(the raw approximate-ANN top-k lists s2/s3, the fake-decode fallback
demo m1) and get rows-only checks; their correctness gates live in
tests/ (recall vs brute force).  Everything else — including minhash /
simhash / CC dedup, the real PNG / MPNG / WAV decodes, and ANN recall —
carries a planted-ground-truth or analytic-formula oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import _t, q


# =====================================================================
# more joins / windows
# =====================================================================

@q(
    "w6_sessionize",
    """SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions FROM (
         SELECT user_id,
                SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
         FROM (
           SELECT user_id, ts, event_id,
                  CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            > INTERVAL 1 HOUR OR
                            LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       THEN 1 ELSE 0 END AS is_new
           FROM events))
       GROUP BY user_id""",
)
def w6_sessionize(spark, sf_dir):
    """Gap-based sessionization (1h inactivity): lag + cumsum windows —
    the batch equivalent of session_window streaming."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf_dir, "events")
    lag_ts = F.lag("ts").over(w)
    is_new = F.when(
        lag_ts.isNull() | (F.col("ts") - lag_ts > F.expr("INTERVAL 1 HOUR")), 1
    ).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(w))
        .groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
    )


@q(
    "f17_explode_tokens",
    """SELECT token, COUNT(*) AS n FROM (
         SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents)
       GROUP BY token ORDER BY n DESC, token LIMIT 20""",
)
def f17_explode_tokens(spark, sf_dir):
    """Array explode + top-k: the link-extraction shape (explode over span
    arrays) on text tokens."""
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


# =====================================================================
# text analysis
# =====================================================================

@q(
    "t1_token_count",
    """SELECT doc_id, length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
       FROM documents""",
)
def t1_token_count(spark, sf_dir):
    from .functions.text import token_count_col

    return _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_col(F.col("text")).cast("int").alias("n_tokens")
    )


@q(
    "t3_langid_markers",
    """SELECT lang_guess, COUNT(*) AS n FROM (
         SELECT CASE
           WHEN len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                w -> list_contains(['the','and','of','is','a'], w))) >=
                GREATEST(
                  len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                      w -> list_contains(['der','und','die','ist','das'], w))),
                  1)
           THEN 'en'
           WHEN len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                w -> list_contains(['der','und','die','ist','das'], w))) >= 1
           THEN 'de'
           ELSE 'unknown' END AS lang_guess
         FROM documents)
       GROUP BY lang_guess""",
)
def t3_langid_markers(spark, sf_dir):
    """Marker-word language ID (two-language demo form with an exact SQL
    twin; the full argmax variant is functions.text.langid_col)."""
    words = F.split(F.lower(F.col("text")), r"\s+")
    en = F.array([F.lit(w) for w in ["the", "and", "of", "is", "a"]])
    de = F.array([F.lit(w) for w in ["der", "und", "die", "ist", "das"]])
    n_en = F.size(F.filter(words, lambda w: F.array_contains(en, w)))
    n_de = F.size(F.filter(words, lambda w: F.array_contains(de, w)))
    guess = (
        F.when(n_en >= F.greatest(n_de, F.lit(1)), "en")
        .when(n_de >= 1, "de")
        .otherwise("unknown")
    )
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(guess.alias("lang_guess"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# =====================================================================
# dedup
# =====================================================================

@q(
    "d1_exact_dedup",
    """SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
       FROM documents GROUP BY md5(text)""",
)
def d1_exact_dedup(spark, sf_dir):
    """Exact dedup: hash-groupBy, first-wins (db_config.py:46-54 analog)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("content_md5"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@q(
    "d2_minhash_lsh_pairs",
    # ground-truth oracle: restricted to the planted exact-copy offset the
    # full signature→LSH→verify pipeline MUST recover every pair (identical
    # text → identical signature → same bucket in every band) at exactly 1.0
    """SELECT doc_id AS id_a, CAST(doc_id + 1000000 AS BIGINT) AS id_b,
              1.0 AS jaccard FROM documents""",
)
def d2_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs over documents ∪ (documents re-keyed):
    every doc has an exact copy planted; the catalog entry keeps the
    planted-offset pairs so the result is deterministic ground truth.
    Full-recall gate (unrestricted pairs) in tests/test_dedup.py."""
    from .functions.dedup import minhash_dedup

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    planted = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    # max_bucket_size=None: the every-doc oracle must hold even when a
    # text repeats more than cap/2 times (planted ids are the highest in
    # a bucket and a cap would drop them); production paths keep the cap.
    return minhash_dedup(
        d.unionByName(planted), num_perm=32, bands=8, k=5, threshold=0.8,
        max_bucket_size=None,
    ).filter((F.col("id_b") - F.col("id_a") == 1_000_000) & (F.col("id_a") < 1_000_000))


@q(
    "d3_simhash_pairs",
    # ground-truth oracle: exact copies have identical simhash → hamming 0,
    # and the 16-bit chunk blocking always surfaces an identical pair
    """SELECT doc_id AS id_a, CAST(doc_id + 1000000 AS BIGINT) AS id_b,
              CAST(0 AS INTEGER) AS hamming FROM documents""",
)
def d3_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (JVM bit-majority signatures, chunk-blocked
    candidates) restricted to the planted exact-copy offset for a
    deterministic oracle; full near-pair behavior gated in tests."""
    from .functions.dedup import simhash_near_pairs, simhash_signatures

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    planted = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    sigs = simhash_signatures(d.unionByName(planted))
    # uncapped buckets: see d2's note — planted-copy oracle vs bucket cap
    return simhash_near_pairs(sigs, max_hamming=3, max_bucket_size=None).filter(
        (F.col("id_b") - F.col("id_a") == 1_000_000) & (F.col("id_a") < 1_000_000)
    )


@q(
    "d4_ngram_jaccard",
    # ground-truth oracle: the pairs are planted exact copies, so the
    # verification stage must return every pair at jaccard exactly 1.0
    """SELECT doc_id AS id_a, CAST(doc_id + 1000000 AS BIGINT) AS id_b,
              1.0 AS jaccard FROM documents""",
)
def d4_ngram_jaccard(spark, sf_dir):
    """Exact 5-gram Jaccard on planted exact-copy pairs (verification
    stage of the near-dup ladder, run standalone)."""
    from .functions.dedup import jaccard_verify

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    pairs = d.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1_000_000).alias("id_b")
    )
    both = d.unionByName(d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    return jaccard_verify(both, pairs, threshold=0.99)


# =====================================================================
# similarity search
# =====================================================================

@q(
    "s1_cosine_topk",
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       SELECT e.vec_id, ROUND(list_cosine_similarity(e.embedding, q.qv), 4) AS cos_sim
       FROM embeddings e, q WHERE e.vec_id <> 0
       ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
)
def s1_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 query vector (JVM
    zip_with/aggregate; TakeOrdered top-k)."""
    from .functions.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return cosine_topk(emb.filter(F.col("vec_id") != 0), list(qv), k=10)


@q("s2_ann_lsh_topk")  # rows-only; recall gate vs s1 in tests
def s2_ann_lsh_topk(spark, sf_dir):
    from .functions.similarity import ann_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ann_lsh_topk(
        emb.filter(F.col("vec_id") != 0), list(qv), k=10, n_planes=10, probe_hamming=2
    )


@q("s3_ivf_topk")  # rows-only; recall gate vs s1 in tests
def s3_ivf_topk(spark, sf_dir):
    """IVF top-k with TRAINED centroids (spherical k-means on a bounded
    sample — train_ivf_centroids), probing the 3 nearest cells."""
    from .functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ivf_topk(
        emb.filter(F.col("vec_id") != 0), list(qv), k=10, n_cells=8, n_probe=3, train=True
    )


@q(
    "s5_ann_planted_recall",
    # planted-copy ground truth: an exact duplicate has the IDENTICAL
    # hyperplane signature, so the h=0 probe bucket always contains it
    # and the exact rerank scores it 1.0 — recall@5 of the planted dup
    # is structurally 1 for every query; SQL states that expectation
    """SELECT vec_id AS query_id, CAST(1 AS BOOLEAN) AS dup_found
       FROM embeddings WHERE vec_id < 20""",
)
def s5_ann_planted_recall(spark, sf_dir):
    """Driver-graded ANN recall (VERDICT r3 #7): plant an exact duplicate
    of every vector at id+1e6, build the LSH index ONCE (persisted — the
    signature UDF runs once, off the query path), then serve 20 queries
    through the multi-probe path (13 enumerated buckets at n_planes=12,
    h<=1, pushed into the scan as an IN filter).  Each query's top-5 must
    contain its planted duplicate.  The 20 collected query vectors are a
    bounded driver-side dim, like every planted-data entry."""
    from .functions.similarity import ann_lsh_topk, build_lsh_index

    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    both = e.unionByName(
        e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    index = build_lsh_index(both, 64).persist()
    qrows = e.filter(F.col("vec_id") < 20).collect()
    parts = []
    for r in qrows:
        top = ann_lsh_topk(
            both, [float(x) for x in r["embedding"]], k=5, probe_hamming=1, index=index
        )
        parts.append(
            top.agg(
                F.max(F.col("vec_id") == r["vec_id"] + 1_000_000).alias("dup_found")
            ).select(F.lit(r["vec_id"]).cast("long").alias("query_id"), "dup_found")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@q(
    "s6_ivf_planted_recall",
    # same planted ground truth for the IVF path: an identical vector is
    # assigned the identical nearest centroid, and the query probes its
    # own best cells first — the duplicate is always in the probed set
    """SELECT vec_id AS query_id, CAST(1 AS BOOLEAN) AS dup_found
       FROM embeddings WHERE vec_id < 20""",
)
def s6_ivf_planted_recall(spark, sf_dir):
    """IVF recall under the driver oracle: trained centroids (bounded
    k-means sample), ONE persisted cell assignment of base+planted
    vectors (the python stage runs once), then 20 queries each scanning
    only their 3 probe cells; top-5 must contain the planted duplicate."""
    import numpy as np

    from .functions.similarity import cosine_topk, ivf_assign, train_ivf_centroids

    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    both = e.unionByName(
        e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    cents = train_ivf_centroids(both, n_cells=8)
    assigned, cents = ivf_assign(both, n_cells=8, centroids=cents)
    assigned = assigned.persist()
    qrows = e.filter(F.col("vec_id") < 20).collect()
    parts = []
    for r in qrows:
        q = np.array(r["embedding"], dtype=np.float64)
        probe_cells = np.argsort(-(cents @ q))[:3].tolist()
        top = cosine_topk(
            assigned.filter(F.col("ivf_cell").isin(probe_cells)),
            [float(x) for x in r["embedding"]],
            k=5,
        )
        parts.append(
            top.agg(
                F.max(F.col("vec_id") == r["vec_id"] + 1_000_000).alias("dup_found")
            ).select(F.lit(r["vec_id"]).cast("long").alias("query_id"), "dup_found")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@q(
    "s8_pq_planted_recall",
    # planted-copy ground truth for the PQ path: codebook centroids are
    # unit-norm and encoding is argmax-dot, so a self-query maximizes
    # every per-subspace LUT — the planted exact duplicate attains the
    # MAXIMUM POSSIBLE ADC score, survives the rerank cut structurally,
    # and the exact rerank scores it cosine 1.0; SQL states recall == 1
    """SELECT vec_id AS query_id, CAST(1 AS BOOLEAN) AS dup_found
       FROM embeddings WHERE vec_id < 20""",
)
def s8_pq_planted_recall(spark, sf_dir):
    """Product-quantization ANN recall (the third ANN family next to
    LSH s5 and IVF s6): train per-subspace codebooks on a bounded
    sample, encode base+planted vectors ONCE into the compressed
    (id, codes) index (the only python stage, persisted), then serve 20
    queries through JVM-only ADC scoring + broadcast-pool exact rerank.
    Each query's top-5 must contain its planted duplicate."""
    from .functions.similarity import pq_encode, pq_topk, train_pq_codebooks

    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    both = e.unionByName(
        e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    books = train_pq_codebooks(both, m_sub=8, n_codes=16)
    index = pq_encode(both, books).persist()
    qrows = e.filter(F.col("vec_id") < 20).collect()
    parts = []
    for r in qrows:
        top = pq_topk(
            index, both, books, [float(x) for x in r["embedding"]], k=5, rerank=64
        )
        parts.append(
            top.agg(
                F.max(F.col("vec_id") == r["vec_id"] + 1_000_000).alias("dup_found")
            ).select(F.lit(r["vec_id"]).cast("long").alias("query_id"), "dup_found")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@q(
    "s10_ann_batch_recall",
    # planted-copy ground truth, BATCH serving form (VERDICT r4 #3): an
    # exact duplicate shares the query's signature, lands in the h=0
    # probe bucket, and reranks at cosine 1.0 — with no real duplicate
    # embeddings in the data (verified per-SF) only {q, q+1e6} tie at
    # 1.0, so the planted dup is always inside top-5
    """SELECT vec_id AS query_id, CAST(1 AS BOOLEAN) AS dup_found
       FROM embeddings WHERE vec_id < 1000""",
)
def s10_ann_batch_recall(spark, sf_dir):
    """Batch ANN serving: EVERY base vector (vec_id < 1000 — the whole
    table at sf0.01) is a query in ONE job — queries DataFrame, probe
    masks exploded, one equi-join on sig against the LSH index, window
    top-5 — no per-query driver loop (the s5 loop served 20 queries as
    20 jobs; the dedup-at-ingest path needs 10^6/round).  Reference
    need: phone_book.py:107-110 dedup-before-insert, at scale."""
    from .functions.similarity import ann_topk_batch, build_lsh_index

    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    both = e.unionByName(
        e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    index = build_lsh_index(both, 64)
    queries = e.filter(F.col("vec_id") < 1000).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = ann_topk_batch(
        queries, index, 64, k=5, probe_hamming=1, broadcast_queries=True
    )
    return top.groupBy("query_id").agg(
        F.max(F.col("vec_id") == F.col("query_id") + 1_000_000).alias("dup_found")
    )


@q(
    "s11_pq_batch_recall",
    # planted-copy ground truth, PQ batch form: the exact duplicate
    # attains the maximum possible ADC score (argmax-dot encoding, s8's
    # argument), survives the rerank cut, and reranks at cosine 1.0
    """SELECT vec_id AS query_id, CAST(1 AS BOOLEAN) AS dup_found
       FROM embeddings WHERE vec_id < 200""",
)
def s11_pq_batch_recall(spark, sf_dir):
    """Batch PQ serving (the compressed-index twin of s10): 200 queries
    LUT-scored against the (id, codes) index in one job — codes exploded
    once, broadcast LUT join, per-(query,id) sum, rerank-pool window,
    exact rerank.  ADC is inherently all-pairs; at 10^6 queries this is
    the rerank stage behind an IVF/LSH prefilter, not the front door."""
    from .functions.similarity import pq_encode, pq_topk_batch, train_pq_codebooks

    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    both = e.unionByName(
        e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    books = train_pq_codebooks(both, m_sub=8, n_codes=16)
    index = pq_encode(both, books)
    queries = e.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = pq_topk_batch(queries, index, both, books, k=5, rerank=64)
    return top.groupBy("query_id").agg(
        F.max(F.col("vec_id") == F.col("query_id") + 1_000_000).alias("dup_found")
    )


# =====================================================================
# multimodal plumbing
# =====================================================================

@q("m1_media_features")  # rows-only: decode is stubbed (no codec libs)
def m1_media_features(spark, sf_dir):
    """Binary media columns + mapInPandas featurization; media refs are
    derived deterministically from document ids (stand-in for the media
    store the crawler fills via media_ref pointers)."""
    from .functions.multimodal import decode_and_featurize, synth_media_table

    refs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("media://doc/"), F.col("doc_id").cast("string"), F.lit("/img0")).alias(
            "media_ref"
        )
    )
    return decode_and_featurize(synth_media_table(refs))


@q(
    "m5_png_features",
    # width/height are formula constants per doc_id (synth_png_media);
    # the real decoder must read them back from the actual IHDR + pixel
    # grid of the encoded PNG — a pure SQL twin states the expectation
    """SELECT 'media://doc/' || CAST(doc_id AS VARCHAR) || '/img0' AS media_ref,
              CAST(16 + doc_id % 17 AS INT) AS width,
              CAST(16 + doc_id % 13 AS INT) AS height,
              CAST(1 AS INT) AS n_frames
       FROM documents WHERE doc_id < 200""",
)
def m5_png_features(spark, sf_dir):
    """Feature extraction over REAL PNG bytes (functions/png.py decode
    inside decode_and_featurize, strict — no fake fallback): the decoded
    dimensions must match the generator formulas exactly."""
    from .functions.multimodal import decode_and_featurize, synth_png_media

    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            F.concat(
                F.lit("media://doc/"), F.col("doc_id").cast("string"), F.lit("/img0")
            ).alias("media_ref"),
            F.col("doc_id").alias("seed"),
        )
    )
    media = synth_png_media(refs).repartition(8)
    return decode_and_featurize(media, strict=True).select(
        "media_ref", "width", "height", "n_frames"
    )


@q(
    "m6_resize_checksum",
    # analytic twin: nearest-neighbor picks source pixel (oy*h//32,
    # ox*w//32); R is a formula of (seed, row-major index), so the
    # resized-grid checksum is pure integer arithmetic
    """SELECT 'media://doc/' || CAST(s AS VARCHAR) || '/img0' AS media_ref,
              CAST(32 AS INT) AS width, CAST(32 AS INT) AS height,
              CAST(SUM((7*s + 13*(((oy*(16 + s%13))//32)*(16 + s%17)
                                  + (ox*(16 + s%17))//32)) % 256) AS BIGINT) AS sum_r
       FROM (SELECT doc_id AS s FROM documents WHERE doc_id < 200) d,
            (SELECT unnest(generate_series(0, 31)) AS oy) a,
            (SELECT unnest(generate_series(0, 31)) AS ox) b
       GROUP BY s""",
)
def m6_resize_checksum(spark, sf_dir):
    """F14-adjacent image resize over REAL PNG bytes: decode through the
    spec codec, nearest-neighbor resample to 32x32 (the same _nn_resize
    powering resize_media), R-channel checksum graded against the
    integer-formula re-derivation."""
    from .functions.multimodal import resize_stats, synth_png_media

    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            F.concat(
                F.lit("media://doc/"), F.col("doc_id").cast("string"), F.lit("/img0")
            ).alias("media_ref"),
            F.col("doc_id").alias("seed"),
        )
    )
    media = synth_png_media(refs).repartition(8)
    return resize_stats(media, 32, 32, strict=True)


@q(
    "m7_wav_stats",
    # analytic twin: samples are ((37s + 11i) % 2003) - 1001 over
    # n = 500 + s%300 — the real RIFF decode must reproduce the exact
    # amplitude sum, rate, and count from the encoded bytes
    """SELECT 'media://doc/' || CAST(s AS VARCHAR) || '/aud0' AS media_ref,
              CAST(8000 + 100 * (s % 5) AS INT) AS sample_rate,
              CAST(500 + s % 300 AS INT) AS n_samples,
              CAST(SUM((37*s + 11*i) % 2003 - 1001) AS BIGINT) AS sum_amp
       FROM (SELECT doc_id AS s, unnest(generate_series(0, 499 + doc_id % 300)) AS i
             FROM documents WHERE doc_id < 200) px
       GROUP BY s""",
)
def m7_wav_stats(spark, sf_dir):
    """AUDIO decode for real: genuine RIFF/WAVE blobs (functions/wav.py
    chunk-walking PCM16 codec) -> per-blob rate / sample count /
    amplitude sum, strict at the documented ffmpeg drop-in boundary.
    Completes the modality set: PNG images, MPNG video, WAV audio all
    decode real bytes."""
    from .functions.multimodal import synth_wav_media, wav_stats

    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            F.concat(
                F.lit("media://doc/"), F.col("doc_id").cast("string"), F.lit("/aud0")
            ).alias("media_ref"),
            F.col("doc_id").alias("seed"),
        )
    )
    media = synth_wav_media(refs).repartition(8)
    return wav_stats(media, strict=True)


@q(
    "m8_jpeg_stats",
    # analytic twin: constant 16x16 tiles with v_t = (23s + 41t) % 256
    # quantize exactly under the codec's flat step-8 table, so the real
    # baseline-JPEG decode (Huffman + IDCT + restart markers) must
    # reproduce every pixel — sum_r is 256 * v_t summed over tiles
    """SELECT 'media://doc/' || CAST(s AS VARCHAR) || '/jpg0' AS media_ref,
              CAST(16 * (2 + s % 3) AS INT) AS width,
              CAST(16 * (1 + s % 2) AS INT) AS height,
              CAST(SUM(256 * ((23*s + 41*t) % 256)) AS BIGINT) AS sum_r
       FROM (SELECT doc_id AS s,
                    unnest(generate_series(0, (2 + doc_id%3)*(1 + doc_id%2) - 1)) AS t
             FROM documents WHERE doc_id < 200) px
       GROUP BY s""",
)
def m8_jpeg_stats(spark, sf_dir):
    """JPEG decode for real: genuine baseline-sequential blobs
    (functions/jpeg.py — marker parse, canonical Huffman, IDCT, DRI/RSTn
    rotating with the seed) -> per-blob width / height / R-channel sum,
    strict at the documented PIL/ffmpeg drop-in boundary.  JPEG is the
    format the reference crawler actually persists (share_func.py:224-242
    saveImage), so the dominant web image format now decodes real bytes
    alongside PNG, MPNG video, and WAV audio."""
    from .functions.multimodal import jpeg_stats, synth_jpeg_media

    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            F.concat(
                F.lit("media://doc/"), F.col("doc_id").cast("string"), F.lit("/jpg0")
            ).alias("media_ref"),
            F.col("doc_id").alias("seed"),
        )
    )
    media = synth_jpeg_media(refs).repartition(8)
    return jpeg_stats(media, strict=True)


# =====================================================================
# crawl engine (c1 is oracle-backed: the synthetic frontier is pure
# integer formulas, so DuckDB re-derives the exact dequeue batch; full
# crawl-loop parity gates live in tests/)
# =====================================================================

@q(
    "c1_crawl_frontier_dequeue",
    # exact twin of the engine dequeue: seed_list/hosts_config are integer
    # formulas (synth.py), so the oracle regenerates the frontier with
    # generate_series, ranks (priority, next_fetch_time, url) per host —
    # priority/next_fetch_time are constant here, leaving url order — and
    # applies the per-host max_concurrent cap {5,10,20,50} by h%4
    """WITH seeds AS (
         SELECT DISTINCT 'http://h' || CAST((i*97+1)%20 AS VARCHAR) || '.example/p' ||
                CAST((i*13 + i%7)%1000 AS VARCHAR) AS url,
                (i*97+1)%20 AS h
         FROM (SELECT unnest(generate_series(0,499)) AS i)
       ), ranked AS (
         SELECT url, 'h' || CAST(h AS VARCHAR) || '.example' AS host,
                CAST(0 AS INT) AS priority,
                row_number() OVER (PARTITION BY h ORDER BY url) AS rk,
                CASE h%4 WHEN 0 THEN 5 WHEN 1 THEN 10 WHEN 2 THEN 20 ELSE 50 END AS cap
         FROM seeds
       )
       SELECT url, host, priority FROM ranked WHERE rk <= cap""",
)
def c1_crawl_frontier_dequeue(spark, sf_dir):
    """W1 dequeue on a synthetic frontier: rank by (priority,
    next_fetch_time, url) per host, cap per host.  Runs the REAL engine
    path (frontier.dequeue + politeness.eligible_hosts), graded against a
    DuckDB re-derivation of the whole batch."""
    from . import synth
    from .frontier import dequeue
    from .politeness import eligible_hosts

    seeds = synth.seed_list(spark, 500, 20, 1000)
    fr = seeds.select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.regexp_extract("url", r"^http://([^/]+)/", 1).alias("host"),
        "priority",
        F.lit(0).alias("depth"),
        F.lit("pending").alias("state"),
        F.lit(0).alias("retry_count"),
        F.lit(0).cast("long").alias("next_fetch_time"),
        F.lit(0).cast("long").alias("discovered_round"),
    )
    hosts = synth.hosts_config(spark, 20)
    return dequeue(fr, eligible_hosts(hosts, None, 1), 1).select(
        "url", "host", "priority"
    )


@q(
    "m2_binarize_media",
    # analytic ground truth: pixels are integer formulas of (doc_id, i)
    # (synth_png_media docstring), the PNG roundtrip is lossless, and the
    # reference's three-pass binarize whitens exactly the pixels with
    # R>=90 AND G>=136 AND B>0 (here B>=1 always) — so SQL recomputes the
    # white count without ever decoding an image
    """SELECT 'media://doc/' || CAST(doc_id AS VARCHAR) || '/img0' AS media_ref,
              CAST(16 + doc_id % 17 AS INT) AS width,
              CAST(16 + doc_id % 13 AS INT) AS height,
              CAST(SUM(CASE WHEN (7 * doc_id + 13 * i) % 256 >= 90
                             AND (11 * doc_id + 29 * i) % 256 >= 136
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_white
       FROM (SELECT doc_id,
                    unnest(generate_series(
                        0, (16 + doc_id % 17) * (16 + doc_id % 13) - 1)) AS i
             FROM documents WHERE doc_id < 200) px
       GROUP BY doc_id""",
)
def m2_binarize_media(spark, sf_dir):
    """F14 captcha binarization (binaryzationImage share_func.py:194-221)
    over REAL PNG bytes: deterministic pixels are encoded through the
    dependency-free codec (functions/png.py), decoded back
    spec-conformantly (all five scanline filters exercised across the
    batch), then three-pass thresholded.  strict=True: any blob the real
    decoder can't handle raises instead of falling back to a fake.  The
    repartition between the two python stages keeps one python worker
    per task (CLAUDE.md perf rule 1)."""
    from .functions.multimodal import binarize_media, synth_png_media

    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            F.concat(
                F.lit("media://doc/"), F.col("doc_id").cast("string"), F.lit("/img0")
            ).alias("media_ref"),
            F.col("doc_id").alias("seed"),
        )
    )
    media = synth_png_media(refs).repartition(8)
    return binarize_media(media, strict=True).select(
        "media_ref", "width", "height", F.col("n_white").cast("long").alias("n_white")
    )


@q(
    "d5_embedding_near_dup",
    # ground-truth oracle: planted identical vectors share the exact LSH
    # signature, so blocking always surfaces the pair at cosine 1.0
    """SELECT vec_id AS id_a, CAST(vec_id + 1000000 AS BIGINT) AS id_b,
              1.0 AS cos_sim FROM embeddings""",
)
def d5_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup tier: every vector gets an exact copy
    planted at id+1e6; signature-blocked candidates + exact cosine
    verify must recover every planted pair at 1.0."""
    from .functions.dedup import embedding_near_pairs

    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    planted = e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    # uncapped buckets: see d2's note — planted-copy oracle vs bucket cap
    return embedding_near_pairs(
        e.unionByName(planted), threshold=0.99, max_bucket_size=None
    ).filter(
        (F.col("id_b") - F.col("id_a") == 1_000_000) & (F.col("id_a") < 1_000_000)
    )


@q(
    "d6_dup_components",
    # ground truth: every edge comes from an identical-text group, so the
    # transitive closure of the chain edges is exactly the text groups —
    # component = min base doc_id sharing the text (handles the real
    # duplicate texts in the sf0.1 corpus, not just the planted copies)
    """SELECT t.member, g.component
       FROM (SELECT doc_id AS member, text FROM documents
             UNION ALL SELECT doc_id + 1000000, text FROM documents
             UNION ALL SELECT doc_id + 2000000, text FROM documents) t
       JOIN (SELECT text, MIN(doc_id) AS component
             FROM documents GROUP BY text) g
         ON t.text = g.text""",
)
def d6_dup_components(spark, sf_dir):
    """Dup-cluster canonicalization: exact-dup chain edges (lag() per
    content-hash group — a SPANNING CHAIN, so closure genuinely needs
    label propagation across hops) -> connected_components -> (member,
    component).  Each doc is planted twice (+1e6, +2e6); chains of >= 3
    must collapse to the base min id."""
    from .functions.dedup import connected_components, exact_dup_chain_edges

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    tri = d.unionByName(
        d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    ).unionByName(d.select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text"))
    cc = connected_components(exact_dup_chain_edges(tri))
    return cc.select(
        F.col("member").cast("long").alias("member"),
        F.col("component").cast("long").alias("component"),
    )


@q(
    "d7_dup_components_star",
    # same fixpoint as d6 — the star contraction must land on identical
    # components (text groups, canonical min base doc_id)
    """SELECT t.member, g.component
       FROM (SELECT doc_id AS member, text FROM documents
             UNION ALL SELECT doc_id + 1000000, text FROM documents
             UNION ALL SELECT doc_id + 2000000, text FROM documents) t
       JOIN (SELECT text, MIN(doc_id) AS component
             FROM documents GROUP BY text) g
         ON t.text = g.text""",
)
def d7_dup_components_star(spark, sf_dir):
    """d6's chains through the O(log²)-round large-star/small-star CC —
    the high-diameter scale path must reach the same fixpoint as
    min-label propagation on real data."""
    from .functions.dedup import connected_components_star, exact_dup_chain_edges

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    tri = d.unionByName(
        d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    ).unionByName(d.select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text"))
    cc = connected_components_star(exact_dup_chain_edges(tri))
    return cc.select(
        F.col("member").cast("long").alias("member"),
        F.col("component").cast("long").alias("component"),
    )


@q(
    "t4_fingerprint_stability",
    # planted-copy determinism gate: identical text -> identical winnowing
    # fingerprint, for every document
    """SELECT doc_id, CAST(1 AS BOOLEAN) AS fp_match FROM documents""",
)
def t4_fingerprint_stability(spark, sf_dir):
    """Winnowing fingerprints (functions/text.py rolling min-hash) are a
    pure function of content: each doc's fingerprint must equal its
    planted copy's.  Semantics gated in tests/test_text_multimodal.py;
    this entry puts the operator under the driver oracle."""
    from .functions.text import fingerprint_udf

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    both = d.unionByName(
        d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    fps = both.select("doc_id", fingerprint_udf(F.col("text")).alias("fp"))
    a = fps.filter(F.col("doc_id") < 1_000_000).alias("a")
    b = fps.filter(F.col("doc_id") >= 1_000_000).select(
        (F.col("doc_id") - 1_000_000).alias("doc_id"), F.col("fp").alias("fp_b")
    ).alias("b")
    return a.join(b, "doc_id").select(
        "doc_id", (F.col("fp") == F.col("fp_b")).alias("fp_match")
    )


@q(
    "t5_bpe_token_count",
    # equivalence: splitting on every word/non-word boundary and dropping
    # whitespace leaves (maximal \w+ runs) + (each non-word non-space
    # char as its own token) — RE2 has no lookarounds, so the oracle
    # counts the two classes instead of re-splitting
    """SELECT doc_id,
              CAST(len(regexp_extract_all(text, '\\w+'))
                   + length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS INT)
                  AS n_bpe_tokens
       FROM documents""",
)
def t5_bpe_token_count(spark, sf_dir):
    """BPE-ish regex token count (words / numbers / punctuation as
    separate tokens — the cheap subword-tokenizer stand-in for corpus
    cost estimates), pure JVM codegen."""
    from .functions.text import bpe_ish_token_count_col

    return _t(spark, sf_dir, "documents").select(
        "doc_id", bpe_ish_token_count_col(F.col("text")).cast("int").alias("n_bpe_tokens")
    )


@q(
    "m3_frame_sample",
    # analytic ground truth: frames/pixels are integer formulas of
    # (doc_id, frame, i) (synth_png_video docstring); the sampled frame
    # set is 0, k, 2k, ... and the R-channel sum is recomputed in SQL —
    # the real decoder must reproduce it from the actual container bytes
    """SELECT 'media://doc/' || CAST(s AS VARCHAR) || '/vid0' AS media_ref,
              CAST(f AS INT) AS frame_idx,
              CAST(3 + s % 8 AS INT) AS n_frames,
              CAST(8 + s % 5 AS INT) AS width,
              CAST(8 + s % 3 AS INT) AS height,
              CAST(SUM((5*s + 7*f + 11*i) % 256) AS BIGINT) AS sum_r
       FROM (SELECT s, f, unnest(generate_series(0, (8 + s%5)*(8 + s%3) - 1)) AS i
             FROM (SELECT doc_id AS s, unnest(generate_series(0, 2 + doc_id % 8, 4)) AS f
                   FROM documents WHERE doc_id < 150) fr) px
       GROUP BY s, f""",
)
def m3_frame_sample(spark, sf_dir):
    """Video frame sampling over REAL multi-frame containers: MPNG
    (length-prefixed PNG frames) parse, O(1) seek past unsampled frames,
    full PNG decode of every kept frame, one fused python stage
    (sample_frame_stats).  strict=True: a non-container blob raises at
    the documented ffmpeg drop-in boundary instead of faking."""
    from .functions.multimodal import sample_frame_stats, synth_png_video

    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select(
            F.concat(
                F.lit("media://doc/"), F.col("doc_id").cast("string"), F.lit("/vid0")
            ).alias("media_ref"),
            F.col("doc_id").alias("seed"),
        )
    )
    media = synth_png_video(refs).repartition(8)
    return sample_frame_stats(media, every_k=4, strict=True)


@q(
    "t9_bigram_vocab",
    # top-k corpus bigrams with a deterministic (n DESC, bigram ASC)
    # boundary tiebreak — count ties are common in synthetic text, so the
    # k-th slot must never depend on engine sort stability
    """WITH d AS (SELECT regexp_extract_all(lower(text), '[a-z]{2,}') AS w
                  FROM documents),
       bi AS (SELECT unnest(list_transform(
                       generate_series(1, greatest(0, len(w) - 1)),
                       i -> w[i] || ' ' || w[i+1])) AS bigram
              FROM d)
       SELECT bigram, COUNT(*) AS n FROM bi GROUP BY bigram
       ORDER BY n DESC, bigram LIMIT 30""",
)
def t9_bigram_vocab(spark, sf_dir):
    """Tokenizer-vocabulary induction: global top-k adjacent-word pairs —
    the first BPE merge decision over a corpus.  Words stay an array
    column; bigrams come from a JVM transform-with-index (no explode of
    unigrams, no self-join), then one partial-agg'd count shuffle and a
    TakeOrdered top-k.  At 100 TB the bigram agg is the only shuffle and
    the top-k never materializes the full vocabulary on the driver."""
    d = _t(spark, sf_dir, "documents").select(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]{2,}"), 0).alias("w")
    )
    bi = d.select(
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN "
                "transform(slice(w, 1, size(w) - 1), (x, i) -> concat(x, ' ', w[i+1])) "
                "ELSE array() END"
            )
        ).alias("bigram")
    )
    return (
        bi.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(30)
    )


@q(
    "d8_decontaminate",
    # construct -> detect identity oracle: the benchmark set is carved
    # from the corpus itself (doc_id % 97 == 0), so any doc sharing an
    # 8-gram with a benchmark doc (exact-duplicate partners, quoted
    # runs) must be flagged with its exact distinct-shingle overlap
    """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                     FROM documents),
       sh AS (SELECT doc_id,
                     unnest(list_transform(generate_series(1, greatest(0, len(t) - 7)),
                                           i -> array_to_string(t[i:i+7], ' '))) AS shingle
              FROM toks),
       bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
       hits AS (SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_shared
                FROM sh s JOIN bench b USING (shingle)
                WHERE s.doc_id % 97 <> 0
                GROUP BY s.doc_id)
       SELECT 'contaminated' AS probe, doc_id, n_shared FROM hits
       UNION ALL
       SELECT 'benchmark' AS probe, doc_id, CAST(0 AS BIGINT) AS n_shared
       FROM documents WHERE doc_id % 97 = 0""",
)
def d8_decontaminate(spark, sf_dir):
    """Benchmark decontamination — the training-corpus hygiene op: flag
    every document sharing an exact 8-gram shingle with the eval set
    (here carved deterministically from the corpus, doc_id % 97 == 0).
    Per-doc distinct 8-gram shingles (dedup.word_shingles, JVM, no
    Python) -> equi-join against the benchmark shingle set ->
    distinct-overlap count.  At 100 TB the join key would
    be xxhash64(shingle) (8 bytes instead of the string) and the
    benchmark side — eval sets are tiny — broadcasts; the corpus side
    streams through one shuffle."""
    from .functions.dedup import word_shingles

    docs = _t(spark, sf_dir, "documents")
    sh = word_shingles(docs, 8).select("doc_id", F.explode_outer("shingles").alias("shingle"))
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    hits = (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return hits.select(
        F.lit("contaminated").alias("probe"), "doc_id", "n_shared"
    ).unionByName(
        docs.filter(F.col("doc_id") % 97 == 0).select(
            F.lit("benchmark").alias("probe"),
            "doc_id",
            F.lit(0).cast("long").alias("n_shared"),
        )
    )


@q(
    "t12_token_packing",
    # token-budget sequence packing: seq = floor(exclusive-prefix-sum /
    # 256) over (lang, doc_id % 8) in doc_id order — DuckDB restates the
    # same window arithmetic, so grouping by the assignment is exact
    """WITH t AS (SELECT lang, doc_id, doc_id % 8 AS shard,
           length(regexp_split_to_array(trim(text), '\\s+')) AS tk
       FROM documents),
       c AS (SELECT lang, shard, doc_id, tk,
           SUM(tk) OVER (PARTITION BY lang, shard ORDER BY doc_id) - tk AS prev
       FROM t)
       SELECT lang, CAST(shard AS INT) AS shard,
              CAST(FLOOR(prev / 256.0) AS BIGINT) AS seq,
              COUNT(*) AS n_docs, CAST(SUM(tk) AS BIGINT) AS seq_tokens,
              MIN(doc_id) AS first_doc
       FROM c GROUP BY lang, shard, seq""",
)
def t12_token_packing(spark, sf_dir):
    """Token-budget sequence packing (functions/text.pack_sequences):
    pack documents into 256-token training sequences, no doc split, at
    most one-doc overflow per sequence.  The running sum is windowed per
    (lang, doc_id % 8) — packing needs determinism, not global order, so
    sharding the window keeps a 100 TB 'en' stratum from becoming one
    skewed sort partition while staying engine-independent (arithmetic
    shard, not a hash only one engine can compute)."""
    from .functions.text import pack_sequences, token_count_col

    packed = pack_sequences(
        _t(spark, sf_dir, "documents"), budget=256, n_shards=8
    )
    return packed.groupBy("lang", "shard", "seq").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col(F.col("text")).cast("long")).alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@q(
    "t13_packed_sequence_text",
    # the materialized training row: docs of a sequence joined in doc_id
    # order — DuckDB's ORDER BY inside string_agg restates the window-
    # ordered collect exactly; graded on md5 so cells stay scalar/small
    """WITH t AS (SELECT lang, doc_id, doc_id % 8 AS shard, text,
           length(regexp_split_to_array(trim(text), '\\s+')) AS tk
       FROM documents),
       c AS (SELECT lang, shard, doc_id, text,
           CAST(FLOOR((SUM(tk) OVER (PARTITION BY lang, shard ORDER BY doc_id)
                       - tk) / 256.0) AS BIGINT) AS seq
       FROM t)
       SELECT lang, CAST(shard AS INT) AS shard, seq,
              md5(string_agg(text, chr(10) ORDER BY doc_id)) AS packed_md5,
              CAST(length(string_agg(text, chr(10) ORDER BY doc_id)) AS BIGINT)
                AS packed_len
       FROM c GROUP BY lang, shard, seq""",
)
def t13_packed_sequence_text(spark, sf_dir):
    """Packed-sequence materialization: the training rows t12's
    assignment implies — each sequence's documents joined in doc_id
    order with a newline separator.  Ordered intra-group concat is done
    with a window-framed collect_list (deterministic under any
    partitioning, unlike a bare groupBy collect_list), then one
    row_number()==1 slice per sequence; at 100 TB both windows share the
    single (lang, shard) shuffle with the packing itself."""
    from pyspark.sql import Window

    from .functions.text import pack_sequences

    packed = pack_sequences(_t(spark, sf_dir, "documents"), budget=256, n_shards=8)
    wseq = (
        Window.partitionBy("lang", "shard", "seq")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wpick = Window.partitionBy("lang", "shard", "seq").orderBy("doc_id")
    return (
        packed.withColumn(
            "packed", F.concat_ws("\n", F.collect_list("text").over(wseq))
        )
        .withColumn("_rn", F.row_number().over(wpick))
        .filter(F.col("_rn") == 1)
        .select(
            "lang", "shard", "seq",
            F.md5(F.col("packed").cast("binary")).alias("packed_md5"),
            F.length("packed").cast("long").alias("packed_len"),
        )
    )


@q(
    "s9_int8_quant",
    # per-vector symmetric int8 quantization: scale = 127/max|x|,
    # q = floor(x*scale + 0.5).  Both engines promote the float32
    # element against the double scale identically, so the integer
    # outputs compare exactly — no rounding-mode divergence (floor(x+.5)
    # sidesteps HALF_UP vs HALF_EVEN).
    """WITH s AS (SELECT vec_id, embedding,
           127.0 / list_aggregate(list_transform(embedding, x -> abs(x)), 'max') AS sc
       FROM embeddings)
       SELECT vec_id,
         CAST(list_aggregate(list_transform(embedding,
              x -> CAST(FLOOR(x * sc + 0.5) AS INT)), 'sum') AS BIGINT) AS q_sum,
         CAST(list_aggregate(list_transform(embedding,
              x -> CAST(FLOOR(x * sc + 0.5) AS INT)), 'min') AS INT) AS q_min,
         CAST(list_aggregate(list_transform(embedding,
              x -> CAST(FLOOR(x * sc + 0.5) AS INT)), 'max') AS INT) AS q_max
       FROM s""",
)
def s9_int8_quant(spark, sf_dir):
    """Symmetric int8 embedding quantization (the 4x storage compression
    an ANN index over a 100 TB embedding store runs on — PQ's scalar
    little sibling, and the form int8 ADC kernels consume).  All-JVM:
    ``int8_quantize_col`` (array_max for the per-vector scale, one
    transform for the codes); graded on the exact integer profile
    (sum/min/max) per vector."""
    from .functions.similarity import int8_quantize_col

    e = _t(spark, sf_dir, "embeddings")
    qarr = int8_quantize_col(F.col("embedding"))
    return e.select(
        "vec_id",
        F.aggregate(qarr, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min(qarr).alias("q_min"),
        F.array_max(qarr).alias("q_max"),
    )


@q(
    "s12_kmeans_assign",
    # integer-exact nearest-centroid assignment: int8 quantization (the
    # s9 invariant) makes the squared-L2 distances integers, so argmin +
    # (dist, cid) tie-break reproduce exactly in both engines — no float
    # summation order anywhere
    """WITH qe AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(FLOOR(x *
                    (127.0 / list_aggregate(list_transform(embedding, y -> abs(y)),
                     'max')) + 0.5) AS INT)) AS q
         FROM embeddings),
       cent AS (SELECT vec_id AS cid, q AS cq FROM qe WHERE vec_id < 8),
       d AS (SELECT e.vec_id, c.cid,
                    CAST(list_sum(list_transform(list_zip(e.q, c.cq),
                         p -> CAST(p[1]-p[2] AS BIGINT)*(p[1]-p[2]))) AS BIGINT) AS dist
             FROM qe e CROSS JOIN cent c),
       a AS (SELECT vec_id, cid, dist,
                    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d)
       SELECT vec_id, cid AS cluster, dist FROM a WHERE rn = 1""",
)
def s12_kmeans_assign(spark, sf_dir):
    """Semantic clustering, the assignment half of k-means (one Lloyd
    half-step) over int8-quantized embeddings: k=8 deterministic seed
    centroids (lowest ids), integer squared-L2, argmin tie-broken on
    centroid id — the clustering front half SemDeDup and
    cluster-balanced training-mix pipelines run before pruning.
    Plan shape: centroids broadcast (k rows, no big-side shuffle),
    per-id window for the argmin.  At 100 TB: k ~ sqrt(N) k-means++
    centroids slot into the same plan."""
    from .functions.similarity import quantized_kmeans_assign

    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    return quantized_kmeans_assign(e, k=8).select("vec_id", "cluster", "dist")


@q(
    "s13_semdedup_prune",
    # SemDeDup with planted exact copies (+1e6 ids, the d2/d3/s5 trick):
    # a copy quantizes identically -> distance 0 -> pruned by its
    # original (keep-lowest-id); natural pairs start at ~90k integer
    # sq-dist in this data so threshold 10000 isolates true dups, and
    # the twin recomputes the identical integer pipeline either way
    """WITH allv AS (
         SELECT vec_id, embedding FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000, embedding FROM embeddings),
       qe AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(FLOOR(x *
                    (127.0 / list_aggregate(list_transform(embedding, y -> abs(y)),
                     'max')) + 0.5) AS INT)) AS q
         FROM allv),
       cent AS (SELECT vec_id AS cid, q AS cq FROM qe WHERE vec_id < 8),
       d AS (SELECT e.vec_id, e.q, c.cid,
                    CAST(list_sum(list_transform(list_zip(e.q, c.cq),
                         p -> CAST(p[1]-p[2] AS BIGINT)*(p[1]-p[2]))) AS BIGINT) AS dist
             FROM qe e CROSS JOIN cent c),
       a AS (SELECT vec_id, q, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d),
       asg AS (SELECT vec_id, q, cid FROM a WHERE rn = 1),
       dup AS (SELECT DISTINCT e1.vec_id AS v
               FROM asg e1 JOIN asg e2
                 ON e1.cid = e2.cid AND e2.vec_id < e1.vec_id
               WHERE list_sum(list_transform(list_zip(e1.q, e2.q),
                     p -> CAST(p[1]-p[2] AS BIGINT)*(p[1]-p[2]))) <= 10000)
       SELECT a.vec_id, a.cid AS cluster, (dup.v IS NOT NULL) AS is_dup
       FROM asg a LEFT JOIN dup ON dup.v = a.vec_id""",
)
def s13_semdedup_prune(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): embedding-level semantic dedup —
    cluster first (s12's integer assignment), then near-dup prune with
    pairwise distances WITHIN clusters only, keep-lowest-id.  The
    cluster equi-join is the whole point at scale: sum(|cluster|^2)
    pairs instead of N^2, one shuffle on cluster id.  Planted exact
    copies (+1e6) are the ground truth: every copy lands in its
    original's cluster at distance 0 and is pruned; the integer
    pipeline makes prune decisions reproducible across engines."""
    from .functions.similarity import semdedup_prune

    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    both = e.unionByName(
        e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    return semdedup_prune(both, k=8, threshold=10_000)


@q(
    "t15_temperature_mix",
    # temperature-based training-data mixing (alpha=0.5): per-lang keep
    # rate r = sqrt(n/max_n), membership decided INTEGER-exactly —
    # keep iff h^2 * max_n < n * 2^40 for the 20-bit md5 prefix h — so
    # no float boundary can flip a doc between engines
    """WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
       mx AS (SELECT MAX(n) AS m FROM cnt),
       k AS (SELECT d.lang, c.n,
                    CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5)
                         AS BIGINT) AS h
             FROM documents d JOIN cnt c USING (lang))
       SELECT lang, MAX(n) AS n_total,
              CAST(SUM(CASE WHEN h * h * (SELECT m FROM mx)
                            < n * 1099511627776 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept
       FROM k GROUP BY lang""",
)
def t15_temperature_mix(spark, sf_dir):
    """Temperature-sampled data mixing (the multilingual-LM rebalance:
    keep rate per stratum proportional to count^alpha, alpha=0.5, so
    low-resource languages are upsampled relative to the head).  The
    keep decision is integer-exact: h = 20-bit md5(doc_id) prefix, keep
    iff h^2 * max_n < n_lang * 2^40  (equivalent to h/2^20 <
    sqrt(n/max_n) with zero rounding — no RNG, so the same subset on any engine or cluster size).  Plan:
    the 5-row lang-weight dim broadcasts; the predicate is codegen'd on
    the scan.  At petabyte counts widen the comparison to decimal."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    cnt = docs.groupBy("lang").agg(F.count("*").alias("n"))
    cnt = cnt.crossJoin(F.broadcast(cnt.agg(F.max("n").alias("m"))))
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 5), 16, 10
    ).cast("long")
    j = docs.join(F.broadcast(cnt), "lang").withColumn("h", h)
    keep = (F.col("h") * F.col("h") * F.col("m")) < (
        F.col("n") * F.lit(1099511627776)
    )
    return j.groupBy("lang").agg(
        F.max("n").alias("n_total"),
        F.sum(keep.cast("int")).cast("long").alias("n_kept"),
    )


@q(
    "s14_kmeans_update",
    # Lloyd centroid update graded exactly: floor(sum/count) of integer
    # codes is engine-exact (a rational p/q with q <= cluster size sits
    # >= 1/q from any other integer — far above the division ulp)
    """WITH qe AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(FLOOR(x *
                    (127.0 / list_aggregate(list_transform(embedding, y -> abs(y)),
                     'max')) + 0.5) AS INT)) AS q
         FROM embeddings),
       cent AS (SELECT vec_id AS cid, q AS cq FROM qe WHERE vec_id < 8),
       d AS (SELECT e.vec_id, e.q, c.cid,
                    CAST(list_sum(list_transform(list_zip(e.q, c.cq),
                         p -> CAST(p[1]-p[2] AS BIGINT)*(p[1]-p[2]))) AS BIGINT) AS dist
             FROM qe e CROSS JOIN cent c),
       a AS (SELECT vec_id, q, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d),
       asg AS (SELECT vec_id, q, cid FROM a WHERE rn = 1),
       n AS (SELECT cid, COUNT(*) AS n_members FROM asg GROUP BY cid),
       el AS (SELECT cid, generate_subscripts(q, 1) - 1 AS d, unnest(q) AS v FROM asg)
       SELECT el.cid AS cluster, n.n_members, CAST(el.d AS INT) AS d,
              CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / n.n_members) AS INT) AS c_val
       FROM el JOIN n USING (cid)
       GROUP BY el.cid, n.n_members, el.d""",
)
def s14_kmeans_update(spark, sf_dir):
    """The centroid-update half of a Lloyd iteration (s12 is the assign
    half — together they are one full k-means step, the training loop
    IVF/SemDeDup clustering runs): new centroid = element-wise
    floor(mean) of the member int8 codes, graded per dimension.
    Scale shape: NO explode of the big side — dim independent sum()
    aggregates partial-aggregate map-side and the shuffle carries k rows
    of dim longs; the k x dim posexplode runs on the tiny result (the
    DuckDB twin explodes because it has no map-side-combine concern)."""
    from .functions.similarity import kmeans_update_step

    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    return kmeans_update_step(e, k=8, dim=64)


@q(
    "t16_pii_scrub",
    # construct->scrub identity: synthetic emails/phones injected from
    # doc_id formulas (the r1-r6 pattern), scrubbed with character-class
    # regexes that Java regex and RE2 evaluate identically (no \\d, no
    # lookaround), graded on match counts AND the md5 of the scrubbed
    # text — natural text contains no '@' or '+1-' (verified per-SF)
    """WITH inj AS (
         SELECT doc_id,
                text || ' ' ||
                repeat('contact user' || CAST(doc_id AS VARCHAR) || '@example.com ',
                       CAST(doc_id % 3 AS INT)) ||
                repeat('call +1-555-' || CAST(doc_id % 10000 AS VARCHAR) || ' ',
                       CAST(doc_id % 2 AS INT)) AS t
         FROM documents),
       scrub AS (
         SELECT doc_id,
                len(regexp_extract_all(t,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS n_emails,
                len(regexp_extract_all(t, '\\+1-555-[0-9][0-9]*')) AS n_phones,
                regexp_replace(
                  regexp_replace(t,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                    '<EMAIL>', 'g'),
                  '\\+1-555-[0-9][0-9]*', '<TEL>', 'g') AS scrubbed
         FROM inj)
       SELECT doc_id, CAST(n_emails AS INT) AS n_emails,
              CAST(n_phones AS INT) AS n_phones,
              md5(scrubbed) AS scrub_md5
       FROM scrub""",
)
def t16_pii_scrub(spark, sf_dir):
    """PII scrubbing before training (emails + phone numbers masked,
    with per-doc redaction counts for the audit trail).  Synthetic PII
    is injected from doc_id formulas so the ground truth is analytic;
    the scrubber itself is the real operator: JVM regexp_replace +
    regexp_count, codegen'd, no python stage — at 100 TB this is a
    projection on the scan.  Patterns stick to explicit character
    classes (no \\d, no lookaround) so Java regex and RE2 agree, and
    the md5 of the scrubbed text makes the grade byte-exact."""
    docs = _t(spark, sf_dir, "documents")
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    phone_re = "\\+1-555-[0-9][0-9]*"
    t = F.concat(
        F.col("text"),
        F.lit(" "),
        F.repeat(
            F.concat(
                F.lit("contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com "),
            ),
            (F.col("doc_id") % 3).cast("int"),
        ),
        F.repeat(
            F.concat(
                F.lit("call +1-555-"),
                (F.col("doc_id") % 10000).cast("string"),
                F.lit(" "),
            ),
            (F.col("doc_id") % 2).cast("int"),
        ),
    )
    inj = docs.select("doc_id", t.alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t"), email_re, "<EMAIL>"), phone_re, "<TEL>"
    )
    return inj.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(email_re)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(phone_re)).cast("int").alias("n_phones"),
        F.md5(scrubbed.cast("binary")).alias("scrub_md5"),
    )


@q(
    "m9_phash_near_dup",
    # planted ground truth: even doc_ids get a +1-brightness twin at
    # id+1e6 (same pixels shifted uniformly; PNG bytes DIFFER so an exact
    # byte hash misses the pair), odd doc_ids get an unrelated image at
    # the same offset.  average_hash_rgba is integer-floor arithmetic, so
    # a uniform shift moves gray/blocks/ref by exactly +1 and every bit
    # comparison — ties included — is invariant: the twin's aHash is
    # bit-identical and the pair list is exactly the even ids
    """SELECT CAST(doc_id AS BIGINT) AS id_a,
              CAST(doc_id + 1000000 AS BIGINT) AS id_b
       FROM documents WHERE doc_id < 300 AND doc_id % 2 = 0""",
)
def m9_phash_near_dup(spark, sf_dir):
    """Perceptual (average-hash) image dedup over REAL PNG bytes — the
    image-side analog of the d2 text MinHash tier: decode through the
    dependency-free codec, 64-bit integer aHash in the same python stage,
    then a pure-JVM groupBy-hash window to emit (canonical, dup) pairs.
    Catches brightness/re-encode near-duplicates that the byte-level
    content hash (reference's media store key, share_func.py download
    path) cannot.  Restricted to the planted offset like d2/d5 so the
    result is deterministic ground truth; at scale the same plan is one
    exchange on the 64-bit hash."""
    from .functions.multimodal import average_hash_media, synth_shifted_png_media

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    base = d.select(
        F.col("doc_id").alias("img_id"),
        F.col("doc_id").alias("seed"),
        F.lit(0).alias("shift"),
    )
    twin = d.select(
        (F.col("doc_id") + 1_000_000).alias("img_id"),
        # even ids: a true brightness twin of the base image;
        # odd ids: an unrelated image (disjoint seed range) so the
        # planted-offset filter is a real discrimination test
        F.when(F.col("doc_id") % 2 == 0, F.col("doc_id"))
        .otherwise(F.col("doc_id") + 500_000)
        .alias("seed"),
        F.lit(1).alias("shift"),
    )
    refs = base.unionByName(twin).select(
        F.col("img_id").cast("string").alias("media_ref"), "seed", "shift"
    )
    media = synth_shifted_png_media(refs).repartition(8)
    ah = average_hash_media(media, strict=True).select(
        F.col("media_ref").cast("long").alias("img_id"), "ahash"
    )
    w = Window.partitionBy("ahash")
    pairs = (
        ah.withColumn("id_a", F.min("img_id").over(w))
        .filter(F.col("img_id") > F.col("id_a"))
        .select("id_a", F.col("img_id").alias("id_b"))
    )
    return pairs.filter(F.col("id_b") - F.col("id_a") == 1_000_000)


@q(
    "d10_containment_dedup",
    # planted ground truth: every doc with >= 16 tokens gets a TRUNCATED
    # twin (its first half, id+1e6) — low Jaccard vs the base (a half
    # shares ~1/2 the shingles) but containment exactly 1.0 by
    # construction; both engines recompute the twin's distinct-shingle
    # count (repeated passages make it != halflen-7 for some docs, so a
    # closed-form count would be wrong — the d8 oracle precedent)
    """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                     FROM documents),
       half AS (SELECT doc_id, t[1:len(t)//2] AS h
                FROM toks WHERE len(t)//2 >= 8),
       sh AS (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(h) - 7),
                                           i -> array_to_string(h[i:i+7], ' '))) AS shingle
              FROM half)
       SELECT CAST(doc_id AS BIGINT) AS id_a,
              CAST(doc_id + 1000000 AS BIGINT) AS id_b,
              CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_shingles
       FROM sh GROUP BY doc_id""",
)
def d10_containment_dedup(spark, sf_dir):
    """Asymmetric containment dedup (functions/dedup.containment_pairs):
    a truncated/boilerplate-wrapped copy has LOW Jaccard similarity —
    the d2 MinHash tier scores a half-doc ~0.5 and drops it — but
    containment |sh(a) ∩ sh(b)| / |sh(a)| exactly 1.0.  Planted
    truncated twins (first half of every >= 16-token doc) must each be
    recovered with the engine-exact INTEGER predicate
    n_match == n_shingles; restricted to the planted offset like d2/d5
    so natural containments don't make the result corpus-dependent."""
    from .functions.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0).alias("t"),
    )
    halves = toks.filter((F.size("t") / 2).cast("int") >= 8).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice("t", 1, (F.size("t") / 2).cast("int"))).alias("text"),
    )
    pairs = containment_pairs(halves, docs, k=8)
    return (
        pairs.filter(
            (F.col("n_match") == F.col("n_shingles"))
            & (F.col("id_contained") - F.col("id_container") == 1_000_000)
        )
        .select(
            F.col("id_container").alias("id_a"),
            F.col("id_contained").alias("id_b"),
            F.col("n_shingles").cast("long").alias("n_shingles"),
        )
    )


@q(
    "t17_c4_line_filters",
    # construct -> filter identity (the t16 pattern): lines are injected
    # from doc_id formulas — line j of doc d has 2+(d+j)%4 words, a
    # ' javascript' poison word iff (d+j)%7==0, a terminal '.' iff
    # (d+j)%3!=0 — so the C4 keep rule (>=3 words AND ends '.' AND no
    # 'javascript') is exactly re-derivable; kept text is md5-graded
    """WITH built AS (
         SELECT doc_id,
                list_transform(generate_series(0, CAST(doc_id % 5 AS INT)),
                  j -> array_to_string(
                         list_transform(generate_series(1, CAST(2 + (doc_id + j) % 4 AS INT)),
                                        x -> 'tok'), ' ')
                       || CASE WHEN (doc_id + j) % 7 = 0 THEN ' javascript' ELSE '' END
                       || CASE WHEN (doc_id + j) % 3 <> 0 THEN '.' ELSE '' END
                ) AS lines
         FROM documents),
       f AS (SELECT doc_id, lines,
                    list_filter(lines,
                      l -> len(string_split(l, ' ')) >= 3
                           AND l LIKE '%.'
                           AND l NOT LIKE '%javascript%') AS kept
             FROM built)
       SELECT doc_id,
              CAST(len(lines) AS INT) AS n_lines,
              CAST(len(kept) AS INT) AS n_kept,
              md5(coalesce(array_to_string(kept, chr(10)), '')) AS kept_md5
       FROM f""",
)
def t17_c4_line_filters(spark, sf_dir):
    """C4/RefinedWeb-style line-level quality filtering — the corpus
    hygiene pass between crawl and training: drop lines with < 3 words,
    without terminal punctuation, or containing a boilerplate poison
    token ('javascript').  The filter itself is one whole-stage-codegen
    projection (split + higher-order filter + re-join + md5, no python,
    no shuffle) — at 100 TB this runs at scan speed.  Lines are
    deterministically injected (the corpus has no newlines) so both
    engines re-derive the exact kept set; md5 grades the surviving
    text, not just counts."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    lines = F.transform(
        F.sequence(F.lit(0), (d % 5).cast("int")),
        lambda j: F.concat(
            F.array_join(
                F.array_repeat(F.lit("tok"), (F.lit(2) + F.pmod(d + j, F.lit(4))).cast("int")),
                " ",
            ),
            F.when(F.pmod(d + j, F.lit(7)) == 0, F.lit(" javascript")).otherwise(F.lit("")),
            F.when(F.pmod(d + j, F.lit(3)) != 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    built = docs.select("doc_id", F.concat_ws("\n", lines).alias("text"))
    arr = F.split(F.col("text"), "\n")
    kept = F.filter(
        arr,
        lambda l: (F.size(F.split(l, " ")) >= 3)
        & l.endswith(".")
        & ~l.contains("javascript"),
    )
    return built.select(
        "doc_id",
        F.size(arr).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.md5(F.concat_ws("\n", kept).cast("binary")).alias("kept_md5"),
    )


@q(
    "m10_audio_sample_dedup",
    # planted ground truth: even doc_ids get a RE-ENCODED twin at id+1e6
    # (a LIST/INFO metadata chunk is inserted — container bytes differ,
    # PCM samples are identical), odd doc_ids get unrelated audio at the
    # same offset; n_samples is the synth formula, so the row also
    # certifies the twin's real chunk-walk decode
    """SELECT CAST(doc_id AS BIGINT) AS id_a,
              CAST(doc_id + 1000000 AS BIGINT) AS id_b,
              CAST(500 + doc_id % 300 AS INT) AS n_samples
       FROM documents WHERE doc_id < 300 AND doc_id % 2 = 0""",
)
def m10_audio_sample_dedup(spark, sf_dir):
    """Sample-level audio dedup — the audio leg of the modality dedup
    ladder (text d1-d10, image m9): decode REAL RIFF/WAVE bytes (chunk
    walk skips the planted LIST/INFO tag spec-conformantly), fingerprint
    the raw PCM, group-by-fingerprint via window min — one hash exchange,
    no self-join.  A re-tagged copy has different bytes (the byte-level
    media-store key misses it) but an identical fingerprint.  Restricted
    to the planted offset like m9/d2 for deterministic ground truth."""
    from .functions.multimodal import audio_fingerprint_media, synth_tagged_wav_media

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    base = d.select(
        F.col("doc_id").alias("aud_id"),
        F.col("doc_id").alias("seed"),
        F.lit(0).alias("retag"),
    )
    twin = d.select(
        (F.col("doc_id") + 1_000_000).alias("aud_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("doc_id"))
        .otherwise(F.col("doc_id") + 500_000)
        .alias("seed"),
        F.lit(1).alias("retag"),
    )
    refs = base.unionByName(twin).select(
        F.col("aud_id").cast("string").alias("media_ref"), "seed", "retag"
    )
    media = synth_tagged_wav_media(refs).repartition(8)
    fp = audio_fingerprint_media(media, strict=True).select(
        F.col("media_ref").cast("long").alias("aud_id"), "pcm_md5", "n_samples"
    )
    w = Window.partitionBy("pcm_md5")
    pairs = (
        fp.withColumn("id_a", F.min("aud_id").over(w))
        .filter(F.col("aud_id") > F.col("id_a"))
        .select("id_a", F.col("aud_id").alias("id_b"), "n_samples")
    )
    return pairs.filter(F.col("id_b") - F.col("id_a") == 1_000_000)


@q(
    "m11_video_frame_dedup",
    # planted ground truth: even doc_ids get a RE-ENCODED twin at id+1e6
    # (every frame re-compressed with the next scanline filter — PNG
    # bytes differ, decoded pixels identical since all five filters are
    # lossless), odd doc_ids get unrelated video; n_frames is the synth
    # formula, certifying the real container walk + per-frame decode
    """SELECT CAST(doc_id AS BIGINT) AS id_a,
              CAST(doc_id + 1000000 AS BIGINT) AS id_b,
              CAST(3 + doc_id % 8 AS INT) AS n_frames
       FROM documents WHERE doc_id < 300 AND doc_id % 2 = 0""",
)
def m11_video_frame_dedup(spark, sf_dir):
    """Frame-level video dedup — the video leg of the modality dedup
    ladder (text d1-d10, image m9, audio m10): walk the MPNG container,
    decode every frame through the real PNG codec, fingerprint the
    concatenated decoded pixels, group-by-fingerprint via window min
    (one hash exchange, no self-join).  A re-compressed copy has
    different container bytes — the byte-level media-store key misses
    it — but identical frames.  Planted-offset restriction as in
    m9/m10/d2 for deterministic ground truth."""
    from .functions.multimodal import synth_tagged_png_video, video_fingerprint_media

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    base = d.select(
        F.col("doc_id").alias("vid_id"),
        F.col("doc_id").alias("seed"),
        F.lit(0).alias("refilter"),
    )
    twin = d.select(
        (F.col("doc_id") + 1_000_000).alias("vid_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("doc_id"))
        .otherwise(F.col("doc_id") + 500_000)
        .alias("seed"),
        F.lit(1).alias("refilter"),
    )
    refs = base.unionByName(twin).select(
        F.col("vid_id").cast("string").alias("media_ref"), "seed", "refilter"
    )
    media = synth_tagged_png_video(refs).repartition(8)
    fp = video_fingerprint_media(media, strict=True).select(
        F.col("media_ref").cast("long").alias("vid_id"), "frames_md5", "n_frames"
    )
    w = Window.partitionBy("frames_md5")
    pairs = (
        fp.withColumn("id_a", F.min("vid_id").over(w))
        .filter(F.col("vid_id") > F.col("id_a"))
        .select("id_a", F.col("vid_id").alias("id_b"), "n_frames")
    )
    return pairs.filter(F.col("id_b") - F.col("id_a") == 1_000_000)


@q(
    "t19_dsir_importance",
    # DSIR-style importance weighting for domain-targeted data selection
    # (Xie et al. 2023): per-token weight = floor(1e6 * n_target(w) /
    # n_source(w)) via BIGINT division — integer-exact, no log-ratio
    """WITH toks AS (
         SELECT doc_id, lang,
                unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         FROM documents WHERE length(trim(text)) > 0),
       m AS (SELECT w, COUNT(*) AS ns,
                    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt
             FROM toks GROUP BY w)
       SELECT doc_id,
              COUNT(*) AS n_tokens,
              CAST(SUM((1000000 * nt) // ns) AS BIGINT) AS dsir_score
       FROM toks JOIN m USING (w)
       GROUP BY doc_id""",
)
def t19_dsir_importance(spark, sf_dir):
    """DSIR-shaped importance weighting for domain-matched data
    selection (select source documents whose token distribution looks
    like a target domain — here target = the 'en' stratum, source = the
    whole corpus).  The usual form is a log-ratio of hashed-ngram
    probabilities; the float log is cross-engine fragile, so the score
    is the integer surrogate sum(floor(1e6 * n_target(w)/n_source(w)))
    — monotone in the target/source likelihood ratio under a unigram
    model, engine-exact (BIGINT division).  Plan shape: ONE
    conditional aggregation (map-side partial) builds both sides of the
    token model in a single corpus pass, the model broadcasts into the
    scoring join, score is one more partial agg — at 100 TB the model
    is bounded by vocabulary, not corpus, and the corpus shuffles
    exactly twice (token model, per-doc score).  Reference
    analog: the keyword-scored operator-page triage in
    flask_spider/spider/shixin_spider.py (rank pages by how much their
    text matches the target vocabulary) done corpus-statistically."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "lang", F.split(F.trim("text"), r"\s+").alias("t"))
    )
    tok = docs.select("doc_id", "lang", F.explode("t").alias("w"))
    model = tok.groupBy("w").agg(
        F.count("*").alias("ns"),
        F.sum((F.col("lang") == "en").cast("long")).alias("nt"),
    )
    return (
        tok.join(F.broadcast(model), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.expr("(1000000 * nt) div ns")).alias("dsir_score"),
        )
    )


@q(
    "g3_anchor_text",
    # link-graph inversion with anchor-text aggregation: every doc u
    # links to (7u+13) % N and (u*u+5) % N carrying its lead bigram as
    # the anchor; per target: in-degree, distinct anchors, and the
    # plurality anchor (count DESC, anchor ASC — deterministic)
    """WITH n AS (SELECT COUNT(*) AS n FROM documents),
       src AS (
         SELECT doc_id,
                array_to_string(
                  regexp_split_to_array(trim(text), '\\s+')[1:2], ' ') AS anchor
         FROM documents WHERE length(trim(text)) > 0),
       e AS (
         SELECT (7 * doc_id + 13) % n.n AS dst, anchor FROM src, n
         UNION ALL
         SELECT (doc_id * doc_id + 5) % n.n AS dst, anchor FROM src, n),
       g AS (SELECT dst, anchor, COUNT(*) AS c FROM e GROUP BY dst, anchor),
       r AS (SELECT dst, anchor, c,
                    SUM(c) OVER (PARTITION BY dst) AS n_inlinks,
                    COUNT(*) OVER (PARTITION BY dst) AS n_anchors,
                    ROW_NUMBER() OVER (PARTITION BY dst
                                       ORDER BY c DESC, anchor) AS rn
             FROM g)
       SELECT dst AS dst_id, CAST(n_inlinks AS BIGINT) AS n_inlinks,
              CAST(n_anchors AS BIGINT) AS n_anchors,
              anchor AS top_anchor, CAST(c AS BIGINT) AS top_count
       FROM r WHERE rn = 1""",
)
def g3_anchor_text(spark, sf_dir):
    """Anchor-text aggregation — the link-graph inversion every web
    indexer runs after a crawl (collect the text of inbound links per
    target page; the plurality anchor is a stronger relevance signal
    than the page's own text).  Synthetic edge list: doc u links to
    (7u+13) % N (g1's bijection — every target keeps >= 1 inlink) and
    (u^2+5) % N (non-bijective, so in-degrees vary like a real link
    graph's long tail vs hubs).  Tie-break on
    (count DESC, anchor ASC) makes the plurality anchor deterministic
    cross-engine.  Plan shape: one shuffle to (dst, anchor) counts with
    map-side partial agg, then the dst-level rollup — the two windows
    and row_number all share ONE dst exchange (Catalyst reuses the
    coarser partitioning).  At 100 TB anchors are capped strings and
    the hot-target skew (everyone links to the homepage) is bounded by
    the (dst, anchor) pre-aggregation, which collapses duplicate
    anchors before the dst shuffle.  Reference analog: the inbound
    phone-number attribution rollup in flask_spider phone_book.py."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n"))
    src = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 2), " ").alias(
                "anchor"
            ),
        )
        .crossJoin(F.broadcast(n))
    )
    e = src.select(
        ((F.lit(7) * F.col("doc_id") + 13) % F.col("n")).alias("dst"), "anchor"
    ).unionByName(
        src.select(
            ((F.col("doc_id") * F.col("doc_id") + 5) % F.col("n")).alias("dst"),
            "anchor",
        )
    )
    g = e.groupBy("dst", "anchor").agg(F.count("*").alias("c"))
    w = Window.partitionBy("dst")
    r = (
        g.withColumn("n_inlinks", F.sum("c").over(w))
        .withColumn("n_anchors", F.count("*").over(w))
        .withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.col("c").desc(), F.col("anchor"))),
        )
    )
    return r.filter(F.col("rn") == 1).select(
        F.col("dst").alias("dst_id"),
        F.col("n_inlinks").cast("long").alias("n_inlinks"),
        F.col("n_anchors").cast("long").alias("n_anchors"),
        F.col("anchor").alias("top_anchor"),
        F.col("c").cast("long").alias("top_count"),
    )


@q(
    "c20_recrawl_schedule",
    # adaptive revisit scheduling (Cho & Garcia-Molina freshness):
    # per-url average observed change interval, clamped to [1h, 7d],
    # all in BIGINT epoch-micros so the schedule is engine-exact
    """WITH ob AS (SELECT user_id AS url_id, epoch_us(ts) AS us FROM events),
       s AS (SELECT url_id, COUNT(*) AS n_obs, MIN(us) AS first_us,
                    MAX(us) AS last_us
             FROM ob GROUP BY url_id HAVING COUNT(*) >= 2),
       iv AS (SELECT url_id, n_obs,
                     (last_us - first_us) // (n_obs - 1) AS avg_iv, last_us
              FROM s)
       SELECT url_id, CAST(n_obs AS BIGINT) AS n_obs,
              CAST(avg_iv AS BIGINT) AS avg_interval_us,
              CAST(LEAST(GREATEST(avg_iv, 3600000000),
                         604800000000) AS BIGINT) AS next_interval_us,
              CAST(last_us + LEAST(GREATEST(avg_iv, 3600000000),
                                   604800000000) AS BIGINT) AS next_fetch_us
       FROM iv""",
)
def c20_recrawl_schedule(spark, sf_dir):
    """Adaptive recrawl scheduling — the freshness policy a production
    crawler runs between rounds (Cho & Garcia-Molina: revisit interval
    proportional to the page's observed change rate).  Each event is an
    observed change of its url (user_id surrogate); the next-fetch
    interval is the average observed inter-change gap clamped to
    [1 hour, 7 days], and next_fetch = last observation + interval —
    exactly the quantity frontier.dequeue orders on (next_fetch_time).
    All arithmetic is BIGINT epoch-micros (integer division), so the
    schedule is engine-exact; session TZ pins to UTC around the
    NTZ->unix_micros cast (j9's pattern).  Plan: ONE map-side-partial
    aggregation — min/max/count per key — then pure projection; at
    100 TB of fetch history this is a single shuffle of one row per
    url.  Reference analog: the per-operator revisit cadence hardcoded
    in flask_spider's cron tables, derived here from data instead."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        ob = _t(spark, sf_dir, "events").select(
            F.col("user_id").alias("url_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        s = (
            ob.groupBy("url_id")
            .agg(
                F.count("*").alias("n_obs"),
                F.min("us").alias("first_us"),
                F.max("us").alias("last_us"),
            )
            .filter(F.col("n_obs") >= 2)
        )
        iv = s.select(
            "url_id",
            "n_obs",
            F.expr("(last_us - first_us) div (n_obs - 1)").alias("avg_iv"),
            "last_us",
        )
        clamped = F.least(
            F.greatest(F.col("avg_iv"), F.lit(3_600_000_000)),
            F.lit(604_800_000_000),
        )
        return iv.select(
            "url_id",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.col("avg_iv").cast("long").alias("avg_interval_us"),
            clamped.cast("long").alias("next_interval_us"),
            (F.col("last_us") + clamped).cast("long").alias("next_fetch_us"),
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


@q(
    "t20_global_shuffle",
    # deterministic corpus shuffle + contiguous shard assignment for
    # training export: permutation key = md5(doc_id), global rank via
    # ROW_NUMBER, shard = floor((rank-1)*16/n); per-shard id sequence
    # is md5-graded so the ENTIRE permutation is certified
    """WITH r AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
                  FROM documents),
       n AS (SELECT COUNT(*) AS n FROM r),
       rk AS (SELECT doc_id, h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM r),
       s AS (SELECT doc_id, rn, ((rn - 1) * 16) // n.n AS shard FROM rk, n)
       SELECT CAST(shard AS BIGINT) AS shard,
              COUNT(*) AS n_docs,
              md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn))
                  AS ids_md5
       FROM s GROUP BY shard""",
)
def t20_global_shuffle(spark, sf_dir):
    """Deterministic global shuffle + shard export — the last step of a
    training-data pipeline (break source locality before the training
    run; every worker must derive the SAME permutation).  Permutation
    key = md5(doc_id) (no RNG), global rank by
    the two-phase distributed total-order rank: bucket on the first md5
    byte (256 buckets), per-bucket row_number + running bucket offsets
    (a 256-row driver-side-free prefix sum, broadcast back) — NO
    single-partition global sort, the t12 sharded-prefix-sum idea
    applied to total ordering.  Shards are contiguous rank ranges
    (floor((rank-1)*k/n)), and the md5 over each shard's ordered id
    sequence certifies the whole permutation, not just counts.  At
    100 TB the grading collect_list becomes t13's window-framed ordered
    write — assignment cost is unchanged (the corpus shuffles twice:
    bucket window, shard group)."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    n = docs.agg(F.count("*").alias("n"))
    r = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h")
    ).withColumn("b", F.substring("h", 1, 2))
    cnt = r.groupBy("b").agg(F.count("*").alias("c"))
    offs = cnt.select(
        "b",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("off"),
    )
    rn = (
        F.col("off")
        + F.row_number().over(Window.partitionBy("b").orderBy("h"))
    ).alias("rn")
    ranked = (
        r.join(F.broadcast(offs), "b")
        .select("doc_id", rn)
        .crossJoin(F.broadcast(n))
        .select("doc_id", "rn", F.expr("((rn - 1) * 16) div n").alias("shard"))
    )
    ordered_ids = F.transform(
        F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
        lambda x: x["doc_id"].cast("string"),
    )
    return ranked.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.md5(F.concat_ws(",", ordered_ids).cast("binary")).alias("ids_md5"),
    )


@q(
    "c21_trap_detection",
    # crawl-trap (URL pattern explosion) detection: construct -> detect
    # identity — doc d gets a /hH/s.../s... path with 1 + d%6 segments;
    # d % 7 == 0 docs are planted traps (all segments 's0'), the rest
    # use (d*(i+1) + i*i) % 4, which provably NEVER yields 3 equal
    # consecutive segments (equal neighbors need d+2i+1 == d+2i+3 == 0
    # mod 4 -> 2 == 0 mod 4).  A trap is >= 3 equal CONSECUTIVE
    # segments, found by an array scan (no regex backrefs — RE2 has
    # none, so a portable detector can't use them)
    """WITH u AS (
         SELECT doc_id,
                '/h' || CAST(doc_id % 50 AS VARCHAR) ||
                array_to_string(
                  list_transform(generate_series(0, CAST(doc_id % 6 AS INT)),
                    i -> '/s' || CAST(CASE WHEN doc_id % 7 = 0 THEN 0
                                      ELSE (doc_id * (i + 1) + i * i) % 4
                                      END AS VARCHAR)),
                  '') AS url
         FROM documents),
       p AS (SELECT doc_id, url,
                    list_filter(string_split(url, '/'), x -> x <> '') AS segs
             FROM u),
       t AS (SELECT doc_id, url, segs,
                    len(list_filter(
                        generate_series(1, len(segs) - 2),
                        i -> segs[i] = segs[i+1] AND segs[i+1] = segs[i+2]
                    )) > 0 AS is_trap
             FROM p)
       SELECT segs[1] AS host,
              COUNT(*) AS n_urls,
              CAST(SUM(CASE WHEN is_trap THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_traps,
              CAST(MAX(len(segs)) - 1 AS INT) AS max_depth
       FROM t GROUP BY segs[1]""",
)
def c21_trap_detection(spark, sf_dir):
    """Crawl-trap detection — the frontier defense every production
    crawler needs (calendar pages, session-id mazes, and symlink loops
    generate infinite URL spaces; the classic signature is a path
    segment repeating consecutively).  URLs are constructed from doc_id
    formulas (t16's construct->detect identity) and the detector is an
    array scan over path segments — 3+ equal consecutive segments =
    trap — because regex backreferences don't exist in RE2, so a
    portable detector can't use '(/seg)\\1\\1'.  All whole-stage
    codegen: build, split, higher-order exists, one host rollup
    (map-side partial agg).  In the engine this predicate would sit in
    frontier.dequeue next to the robots gate (frontier.py:68), pruning
    trap URLs before they spend fetch budget; here it's graded
    standalone per host.  First path segment (the host bucket) keys the
    rollup, like the politeness gate's host key."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    d = F.col("doc_id")
    url = F.concat(
        F.lit("/h"),
        (d % 50).cast("string"),
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(0), (d % 6).cast("int")),
                lambda i: F.concat(
                    F.lit("/s"),
                    F.when(d % 7 == 0, F.lit(0))
                    .otherwise(F.pmod(d * (i + F.lit(1)) + i * i, F.lit(4)))
                    .cast("string"),
                ),
            ),
        ),
    )
    p = docs.select("doc_id", url.alias("url")).select(
        "doc_id",
        F.filter(F.split("url", "/"), lambda x: x != "").alias("segs"),
    )
    # when() is lazy per-row: for size < 4 the sequence would DESCEND
    # (Spark sequence(0,-1) = [0,-1]) and element_at(segs, 0) throws
    # under ANSI — the guard must branch, not just AND
    is_trap = F.when(
        F.size("segs") >= 4,
        F.exists(
            F.sequence(F.lit(0), F.size("segs") - 3),
            lambda i: (F.element_at("segs", i + 1) == F.element_at("segs", i + 2))
            & (F.element_at("segs", i + 2) == F.element_at("segs", i + 3)),
        ),
    ).otherwise(F.lit(False))
    t = p.select(
        F.element_at("segs", 1).alias("host"),
        F.size("segs").alias("n_segs"),
        is_trap.alias("is_trap"),
    )
    return t.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.sum(F.col("is_trap").cast("int")).cast("long").alias("n_traps"),
        (F.max("n_segs") - 1).cast("int").alias("max_depth"),
    )


@q(
    "i1_inverted_index",
    # inverted-index construction (the crawl -> search handoff): per
    # term, document frequency, total term frequency, and the md5 of
    # the ASCENDING doc_id posting list — the ordered list itself is
    # certified, not just counts
    """WITH toks AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         FROM documents WHERE length(trim(text)) > 0),
       tf AS (SELECT term, doc_id, COUNT(*) AS tf
              FROM toks GROUP BY term, doc_id)
       SELECT term,
              COUNT(*) AS df,
              CAST(SUM(tf) AS BIGINT) AS tf_total,
              md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
                  AS postings_md5
       FROM tf GROUP BY term""",
)
def i1_inverted_index(spark, sf_dir):
    """Inverted-index construction — the operator that turns a crawled
    corpus into a searchable one (the reference crawls INTO a queryable
    MySQL store; a web-scale pipeline builds postings instead).  Per
    term: document frequency, total term frequency, and the ascending
    doc_id posting list certified by md5 — so index CONTENT is graded,
    not just statistics.  Plan shape: (term, doc_id) tf aggregation
    with map-side combine (bounds stopword skew exactly like g3's
    (dst, anchor) trick — a term appearing in every doc pre-aggregates
    to one row per doc before the term shuffle), then the term rollup;
    posting order comes from sort_array on the grouped result, never a
    global sort.  At 100 TB postings stream to a length-prefixed store
    segment per term shard (t13's windowed ordered write) instead of
    collect_list; df/tf and sharding cost are identical."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    )
    tf = docs.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    return tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("tf_total"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).cast("binary")
        ).alias("postings_md5"),
    )


@q(
    "d11_fuzzy_link",
    # fuzzy record linkage: title(d) = 'corp-DDDDDD-x' (len 13); the
    # planted twin at d+1e6 gets '#' substitutions — even d: ONE at
    # pos 6+d%7 (6..12), odd d: TWO at pos 10+d%3 and pos 13 — so
    # dist alternates 1/2 and, with keys k1=substr(1,9)/k2=substr(10,4),
    # at least one blocking key always survives (even d breaks exactly
    # one zone; odd d's edits both land in k2)
    """WITH b AS (
         SELECT doc_id AS id,
                'corp-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '-' ||
                substr('abcdefghij', CAST(doc_id % 10 AS INT) + 1, 1) AS t
         FROM documents),
       m1 AS (SELECT id, t,
                     CAST(CASE WHEN id % 2 = 0 THEN 6 + id % 7
                          ELSE 10 + id % 3 END AS INT) AS p1
              FROM b),
       m2 AS (SELECT id, id % 2 AS par,
                     substr(t, 1, p1 - 1) || '#' || substr(t, p1 + 1) AS t1
              FROM m1),
       tw AS (SELECT id + 1000000 AS id,
                     CASE WHEN par = 0 THEN t1
                          ELSE substr(t1, 1, 12) || '#' END AS t
              FROM m2),
       cand AS (
         SELECT DISTINCT b.id AS id_a, tw.id AS id_b, b.t AS tl, tw.t AS tr
         FROM b JOIN tw
           ON substr(b.t, 1, 9) = substr(tw.t, 1, 9)
           OR substr(b.t, 10, 4) = substr(tw.t, 10, 4))
       SELECT id_a, id_b, CAST(levenshtein(tl, tr) AS INT) AS dist
       FROM cand
       WHERE levenshtein(tl, tr) <= 2 AND id_b - id_a = 1000000""",
)
def d11_fuzzy_link(spark, sf_dir):
    """Fuzzy record linkage (functions/dedup.blocked_fuzzy_pairs):
    multi-pass blocking + Levenshtein verify — the entity-matching mode
    the other dedup tiers miss (typo'd company names / titles: token
    shingles see different tokens, embeddings need a model; edit
    distance is the classic answer).  Planted twins alternate distance
    1 (even d, one substitution anywhere in pos 6-12) and 2 (odd d,
    both edits inside the k2 suffix zone) — so the result grades BOTH
    the verify distance and the multi-pass recall guarantee (any
    single edit breaks at most one of the prefix/suffix keys; the
    DuckDB twin re-derives candidates with an OR-join, fine at oracle
    scale, while the engine unions two equi-joins — never a theta
    join).  Restricted to the planted offset like d2/d10: legitimate
    cross-doc distance-2 matches (e.g. d vs twin(d+10)) exist and both
    engines would agree on them, but the offset filter keeps the
    graded set corpus-independent."""
    from .functions.dedup import blocked_fuzzy_pairs

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id")
    )
    d = F.col("id")
    t = F.concat(
        F.lit("corp-"),
        F.lpad(d.cast("string"), 6, "0"),
        F.lit("-"),
        F.expr("substr('abcdefghij', cast(id % 10 as int) + 1, 1)"),
    )
    base = docs.select("id", t.alias("t"))
    m1 = base.select(
        "id",
        "t",
        F.when(d % 2 == 0, 6 + d % 7).otherwise(10 + d % 3).cast("int").alias("p1"),
        (d % 2).alias("par"),
    )
    m2 = m1.select(
        "id",
        "par",
        F.expr("concat(substr(t, 1, p1 - 1), '#', substr(t, p1 + 1))").alias("t1"),
    )
    twin = m2.select(
        (d + 1_000_000).alias("id"),
        F.when(F.col("par") == 0, F.col("t1"))
        .otherwise(F.expr("concat(substr(t1, 1, 12), '#')"))
        .alias("t"),
    )
    keyed = lambda df: df.select(  # noqa: E731  (tiny local shaping helper)
        "id",
        "t",
        F.substring("t", 1, 9).alias("k1"),
        F.substring("t", 10, 4).alias("k2"),
    )
    pairs = blocked_fuzzy_pairs(
        keyed(base), keyed(twin), ["k1", "k2"], max_dist=2, id_col="id", text_col="t"
    )
    return pairs.filter(F.col("id_r") - F.col("id_l") == 1_000_000).select(
        F.col("id_l").alias("id_a"),
        F.col("id_r").alias("id_b"),
        F.col("dist").cast("int").alias("dist"),
    )


@q(
    "d13_incremental_dedup",
    # incremental (new-batch-vs-corpus) exact dedup: batch A = doc_id <
    # n/2 builds the index; batch B = the other half PLUS planted copies
    # (doc_id+1e6 carrying the text of doc_id < 50).  Ground truth: a B
    # doc is a dup iff its text appears in A, attributed to A's min
    # doc_id for that text — planted copies by construction, natural
    # cross-half dup texts included
    """WITH n AS (SELECT COUNT(*) AS n FROM documents),
       a AS (SELECT text, MIN(doc_id) AS orig_id FROM documents, n
             WHERE doc_id < n.n // 2 GROUP BY text),
       b AS (SELECT doc_id AS new_id, text FROM documents, n
             WHERE doc_id >= n.n // 2
             UNION ALL
             SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50)
       SELECT b.new_id, a.orig_id FROM b JOIN a ON b.text = a.text""",
)
def d13_incremental_dedup(spark, sf_dir):
    """Incremental dedup-at-ingest — the production shape d1's
    whole-corpus groupBy cannot take at 100 TB: round N's NEW documents
    are checked against a PERSISTED content-hash index (a TableStore
    table: xxhash64(text) -> first doc_id), so per-round cost is
    O(new batch), never O(corpus); the index then absorbs the batch's
    novel hashes by append (O(delta), the same manifest mechanics as
    the crawl's seen table).  The entry runs the real two-round
    lifecycle: batch A builds the index through the store, batch B
    (with planted cross-batch copies) anti-checks against the store
    bytes, and the graded output is B's (new_id, orig_id) dup links —
    the twin re-derives them from text equality, so a hash/text
    mismatch or a stale index row breaks the grade.  At scale the join
    is bucket-pruned exactly like the seen anti-join (c3)."""
    import hashlib as _h
    import os
    import shutil
    import tempfile

    from .storage import TableStore

    key = _h.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"spider_spark_d13_{key}")
    shutil.rmtree(root, ignore_errors=True)
    store = TableStore(spark, root)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    n = d.count()
    a = d.filter(F.col("doc_id") < n // 2)
    b = d.filter(F.col("doc_id") >= n // 2).unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    hashed = lambda df: df.select(  # noqa: E731  (tiny local shaping helper)
        "doc_id", F.xxhash64("text").alias("h")
    )
    idx = hashed(a).groupBy("h").agg(F.min("doc_id").alias("orig_id"))
    store.write("content_idx", idx)
    dups = (
        hashed(b)
        .join(store.read("content_idx"), "h")
        .select(F.col("doc_id").alias("new_id"), "orig_id")
    )
    # absorb the batch: novel hashes append (O(delta)) — graded
    # indirectly: a second pass over B must now flag EVERYTHING
    novel = (
        hashed(b)
        .join(store.read("content_idx"), "h", "left_anti")
        .groupBy("h")
        .agg(F.min("doc_id").alias("orig_id"))
    )
    store.append("content_idx", novel)
    n_b = b.count()
    n_second = hashed(b).join(store.read("content_idx"), "h").count()
    if n_second < n_b:
        raise RuntimeError(
            f"index absorb incomplete: {n_second}/{n_b} B-docs flagged on re-check"
        )
    return dups


@q(
    "d12_cluster_split",
    # leakage-free train/val split: the d6 planted-chain components are
    # ground truth (component = min base doc_id sharing the text), and
    # the split is a pure function of the COMPONENT id (md5-prefix
    # ~10% sample, engine-independent) — so a document and
    # every near-duplicate of it land on the same side by construction
    """WITH m AS (
         SELECT t.member, g.component
         FROM (SELECT doc_id AS member, text FROM documents
               UNION ALL SELECT doc_id + 1000000, text FROM documents
               UNION ALL SELECT doc_id + 2000000, text FROM documents) t
         JOIN (SELECT text, MIN(doc_id) AS component
               FROM documents GROUP BY text) g
           ON t.text = g.text)
       SELECT member, component,
              CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 2) <= '19'
                   THEN 'val' ELSE 'train' END AS split
       FROM m""",
)
def d12_cluster_split(spark, sf_dir):
    """Dedup-aware train/validation split — the step that turns the
    dedup graph into a LEAK-FREE eval protocol: splitting documents
    i.i.d. puts near-duplicates of training docs in the validation set
    and silently inflates eval scores, so the unit of assignment must
    be the duplicate COMPONENT, not the document.  Pipeline: exact-dup
    chain edges -> connected_components (the real d6 fixpoint, planted
    3-chains force multi-hop closure) -> split = md5(component) prefix
    threshold (~10% val), a pure engine-independent function of the
    canonical id.  Every member inherits its component's side — the
    twin certifies both the closure AND the assignment.  At 100 TB:
    the CC rounds dominate (O(log) exchanges); the split itself is one
    codegen'd projection, no extra shuffle."""
    from .functions.dedup import connected_components, exact_dup_chain_edges

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    tri = d.unionByName(
        d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    ).unionByName(d.select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text"))
    cc = connected_components(exact_dup_chain_edges(tri))
    return cc.select(
        F.col("member").cast("long").alias("member"),
        F.col("component").cast("long").alias("component"),
        F.when(
            F.substring(F.md5(F.col("component").cast("string").cast("binary")), 1, 2)
            <= "19",
            F.lit("val"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )


@q(
    "a15_pivot_event_matrix",
    # relational PIVOT: user x event_type count matrix with an explicit
    # column list (the only scalable form — inferring pivot values needs
    # an extra pass and unbounded width); CASE-WHEN twin is the
    # engine-portable restatement
    """SELECT user_id,
              CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
              CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
              CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
              CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
              CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
       FROM events GROUP BY user_id""",
)
def a15_pivot_event_matrix(spark, sf_dir):
    """Relational PIVOT — long-to-wide reshaping (per-user event-type
    count matrix, the feature-vector shape every behavioral model
    ingests).  Uses Spark's native pivot WITH an explicit value list:
    the values-less form runs a whole extra distinct pass to infer
    columns and produces unbounded width — at 100 TB the explicit list
    is the only honest form (same reasoning as the driver's fixed
    schema contract).  Spark plans pivot as a TWO-phase aggregate —
    (user, type) counts with map-side combine, then PivotFirst per
    user — semantically the CASE-WHEN conditional aggregation the
    oracle states; the pre-aggregation bounds hot-user skew the same
    way g3/i1 bound hub/stopword skew."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    kinds = ["click", "error", "purchase", "signup", "view"]
    wide = ev.groupBy("user_id").pivot("event_type", kinds).count()
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(k), F.lit(0)).cast("long").alias(f"n_{k}")
            for k in kinds
        ],
    )


@q(
    "a16_cohort_retention",
    # cohort retention: users bucketed by first-event DAY (the events
    # table spans one month, so month-grain would collapse to one row),
    # counted by (cohort day, activity day) — days as strings so the
    # grade never touches cross-engine timestamp hashing
    """WITH ob AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS d FROM events),
       c AS (SELECT user_id, MIN(d) AS cohort FROM ob GROUP BY user_id)
       SELECT c.cohort, ob.d AS activity_day,
              CAST(COUNT(DISTINCT ob.user_id) AS BIGINT) AS n_users
       FROM ob JOIN c USING (user_id)
       GROUP BY c.cohort, ob.d""",
)
def a16_cohort_retention(spark, sf_dir):
    """Cohort retention matrix — the standard lifecycle report (users
    grouped by first-seen day, counted in every day they remained
    active); for a crawler this is host-freshness by discovery cohort.
    Buckets are formatted strings (engine-exact, no timestamp hashing;
    session TZ pinned UTC for the NTZ cast, j9's pattern).  Plan: the
    cohort dim is one map-side-combined aggregate over (user, month)
    pairs, joined back and re-aggregated — the distinct-count shuffle
    keys on (cohort, month, user), never a global distinct."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        ob = _t(spark, sf_dir, "events").select(
            "user_id",
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("d"),
        )
        c = ob.groupBy("user_id").agg(F.min("d").alias("cohort"))
        return (
            ob.join(c, "user_id")
            .groupBy("cohort", F.col("d").alias("activity_day"))
            .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


@q(
    "g5_triangle_count",
    # exact triangle counting by oriented edge enumeration: undirected
    # ring+chord graph (u->u+1; u->u+2 when u%3<>0; u->(7u+13)%N, all
    # mod N), edges canonicalized low->high so each triangle is
    # enumerated exactly once as a<b<c; graded per anchor vertex
    """WITH n AS (SELECT COUNT(*) AS n FROM documents),
       raw AS (
         SELECT doc_id AS u, (doc_id + 1) % n.n AS v FROM documents, n
         UNION ALL
         SELECT doc_id, (doc_id + 2) % n.n FROM documents, n
         WHERE doc_id % 3 <> 0
         UNION ALL
         SELECT doc_id, (7 * doc_id + 13) % n.n FROM documents, n),
       e AS (SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
             FROM raw WHERE u <> v),
       t AS (SELECT e1.a FROM e e1
             JOIN e e2 ON e2.a = e1.b
             JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
       SELECT a AS anchor, COUNT(*) AS n_tri FROM t GROUP BY a""",
)
def g5_triangle_count(spark, sf_dir):
    """Exact triangle counting — the graph-quality primitive under
    community detection and link-spam scoring (a crawl's mutual-link
    cliques), and the canonical example of making an O(n^3) pattern
    scale: orient every undirected edge low->high, enumerate each
    triangle exactly once as a<b<c with TWO equi-joins, never a
    cartesian.  The ring+chord construction (u->u+1 always, u->u+2
    only when u%3<>0, plus the 7u+13 long chord) makes the per-anchor
    count data-dependent, so the grade certifies the enumeration, not
    a formula.  At 100 TB the production refinement is degree
    ordering (orient toward the higher-degree endpoint) so hub
    vertices never fan out — same plan shape, different orientation
    key.  The canonical edge list is eagerly checkpointed (s13's
    materialize precedent): without it Spark recomputes the whole
    union+distinct subtree for every self-join reference — 9 corpus
    scans for a 3-reference pattern."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    n = docs.agg(F.count("*").alias("n"))
    base = docs.crossJoin(F.broadcast(n))
    d = F.col("doc_id")
    raw = (
        base.select(d.alias("u"), ((d + 1) % F.col("n")).alias("v"))
        .unionByName(
            base.filter(d % 3 != 0).select(
                d.alias("u"), ((d + 2) % F.col("n")).alias("v")
            )
        )
        .unionByName(
            base.select(d.alias("u"), ((F.lit(7) * d + 13) % F.col("n")).alias("v"))
        )
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    t = (
        e.join(e2, "b")
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
    )
    return t.groupBy(F.col("a").alias("anchor")).agg(F.count("*").alias("n_tri"))


@q(
    "g6_label_propagation",
    # deterministic 2-round synchronous LPA over 10 planted stars
    # (leaf d >= 10 attaches to hub d % 10).  Round 1: each leaf's only
    # neighbor is its hub -> label h; the hub sees every leaf's initial
    # id once each (all-tied counts) -> min rule picks 10+h.  Round 2:
    # leaves adopt the hub's round-1 label 10+h; the hub's neighbors are
    # now unanimously h -> majority rule returns it to h.  Both tie-break
    # and majority paths are therefore exercised, and the fixpoint is
    # analytic: hub h -> h, leaf d -> 10 + d % 10
    """SELECT doc_id AS node,
              CAST(CASE WHEN doc_id < 10 THEN doc_id
                   ELSE 10 + doc_id % 10 END AS BIGINT) AS label
       FROM documents""",
)
def g6_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation
    (functions/graph.py: count-majority with deterministic
    (count DESC, label ASC) tie-break — the randomness-free LPA form a
    reproducible pipeline needs).  Completes the graph ladder between
    connected components (d6/d7: transitive closure only) and
    PageRank (g1: global scores): LPA finds density clusters
    inside one component.  Per round: one (node, label) partial-count
    aggregation (map-side combine bounds hub skew — hubs here have
    ~N/10 neighbors by construction) + one per-node window argmax,
    labels localCheckpointed so lineage stays O(1) deep.  At 100 TB
    rounds are bounded a priori (fixed iters), each reusing the edge
    partitioning — no driver-side convergence probe needed."""
    from .functions.graph import label_propagation

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    edges = docs.filter(F.col("doc_id") >= 10).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") % 10).alias("dst")
    )
    out = label_propagation(edges, iters=2)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )


@q(
    "a17_rollup_report",
    # hierarchical ROLLUP: (lang, source) subtotals + grand total in ONE
    # pass, GROUPING flags disambiguate rolled-up keys from real values
    """SELECT coalesce(lang, '<all>') AS lang_k,
              coalesce(source, '<all>') AS source_k,
              CAST(GROUPING(lang) AS INT) AS g_lang,
              CAST(GROUPING(source) AS INT) AS g_source,
              COUNT(*) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS chars_total
       FROM documents GROUP BY ROLLUP (lang, source)""",
)
def a17_rollup_report(spark, sf_dir):
    """Hierarchical ROLLUP — the multi-grain report shape (per
    lang+source, per lang, grand total) computed in ONE logical pass
    instead of three unioned scans (the reference's report queries
    re-scan per grain).  Spark plans rollup as an Expand (3 grouping
    sets per input row) feeding one hash aggregate with map-side
    partial — at 100 TB that is 3x the aggregate input but still a
    single corpus scan and a single shuffle, which beats three scans
    whenever the scan dominates (it always does).  GROUPING flags are
    emitted because coalescing NULL group keys to a sentinel is
    ambiguous the moment a real key takes the sentinel value — the
    flag pair is the honest disambiguation, identical in both
    engines."""
    docs = _t(spark, sf_dir, "documents")
    r = docs.rollup("lang", "source").agg(
        F.grouping("lang").cast("int").alias("g_lang"),
        F.grouping("source").cast("int").alias("g_source"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )
    return r.select(
        F.coalesce("lang", F.lit("<all>")).alias("lang_k"),
        F.coalesce("source", F.lit("<all>")).alias("source_k"),
        "g_lang",
        "g_source",
        "n_docs",
        "chars_total",
    )


@q(
    "i2_bm25_topk",
    # BM25-shaped retrieval over the i1 index: integer-surrogate score
    # (BIGINT div instead of log idf) so ranking is
    # engine-exact; top-5 docs per query term
    """WITH toks AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         FROM documents WHERE length(trim(text)) > 0),
       dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
              FROM toks GROUP BY doc_id),
       stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                        CAST(SUM(dl) // COUNT(*) AS BIGINT) AS avgdl
                 FROM dl),
       tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks WHERE term IN ('vector', 'stream', 'hash')
              GROUP BY doc_id, term),
       df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY term),
       scored AS (
         SELECT tf.term, tf.doc_id,
                (stats.n_docs - df.df + 1) *
                ((1000000 * 3 * tf.tf * stats.avgdl) //
                 (tf.tf * stats.avgdl + stats.avgdl + dl.dl)) AS score
         FROM tf JOIN dl USING (doc_id) JOIN df USING (term)
         CROSS JOIN stats)
       SELECT term, doc_id, CAST(score AS BIGINT) AS score,
              CAST(rnk AS INT) AS rnk
       FROM (SELECT *, row_number() OVER
                (PARTITION BY term ORDER BY score DESC, doc_id) AS rnk
             FROM scored)
       WHERE rnk <= 5""",
)
def i2_bm25_topk(spark, sf_dir):
    """BM25 retrieval over the crawled corpus — the query side of the
    i1 inverted index (crawl -> index -> SERVE).  The score is the
    BM25 saturation curve at k1=2, b=1/2 cleared of fractions:
    denom = tf + 1 + dl/avgdl, multiplied through by avgdl so
    sat = 3*tf*avgdl / (tf*avgdl + avgdl + dl), held as
    (1e6 * num) div denom in BIGINT, then weighted by the integer idf
    surrogate (n_docs - df + 1) — BIGINT div instead of ln, so rank
    order is engine-exact with no 1-ulp flips; avgdl itself is SUM(dl) div N, integer both sides.
    Plan: the term filter prunes the explode BEFORE any shuffle
    (three terms survive), df and the corpus stats are 1-to-3-row
    broadcasts, and the per-term top-5 is a window over only matching
    docs — at 100 TB the candidate set is the posting list, never the
    corpus."""
    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.expr("sum(dl) div count(*)").alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin("vector", "stream", "hash"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            (
                (F.col("n_docs") - F.col("df") + 1)
                * F.expr(
                    "(1000000 * 3 * tf * avgdl) div (tf * avgdl + avgdl + dl)"
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "term",
            "doc_id",
            F.col("score").cast("long").alias("score"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@q(
    "t21_bpe_merge_rank",
    # BPE vocabulary induction, the argmax step: adjacent token-pair
    # frequencies over the corpus, top-10 merge candidates (cnt DESC,
    # pair ASC is a total order, so the cut is deterministic)
    """WITH t AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
                  FROM documents
                  WHERE length(trim(text)) > 0
                    AND len(regexp_split_to_array(trim(text), '\\s+')) >= 2),
       p AS (SELECT unnest(list_transform(
                      list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                      x -> x[1] || ' ' || x[2])) AS pair FROM t),
       c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM p GROUP BY pair)
       SELECT CAST(rnk AS INT) AS rnk, pair, cnt
       FROM (SELECT pair, cnt,
                    row_number() OVER (ORDER BY cnt DESC, pair) AS rnk
             FROM c)
       WHERE rnk <= 10""",
)
def t21_bpe_merge_rank(spark, sf_dir):
    """BPE merge-candidate ranking — the argmax step of tokenizer
    training (count adjacent pairs, merge the most frequent, repeat):
    the one training-data operator that runs BEFORE any tokenizer
    exists.  Adjacency comes from zip_with over two shifted slices of
    the token array — all-JVM, no window, no positional explode — so
    each document contributes its n-1 pairs in one codegen projection;
    the global top-10 is orderBy+limit (TakeOrdered, the w2 precedent:
    a k-row heap per partition then a k-row merge, never a global
    sort), with row_number applied AFTER the limit so the rank window
    touches 10 rows, not the pair vocabulary.  Ties are cut on
    (cnt DESC, pair ASC) — a total order, so the boundary is
    deterministic in both engines.  At 100 TB the pair count is
    bounded by distinct-bigram count and pre-aggregates map-side; real
    BPE iterates this job with the previous round's merges applied at
    tokenization time."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(F.split(F.trim("text"), r"\s+").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    pairs = docs.select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("pair")
    )
    c = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    top = c.orderBy(F.col("cnt").desc(), "pair").limit(10)
    w = Window.orderBy(F.col("cnt").desc(), "pair")
    return top.select(
        F.row_number().over(w).cast("int").alias("rnk"), "pair", "cnt"
    )


@q(
    "a18_funnel_conversion",
    # ordered funnel: view -> first click AFTER the first view -> first
    # purchase AFTER that click; stage reached per user, BIGINT
    # epoch-micros so every step timestamp hashes exactly
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
                  FROM events),
       v AS (SELECT user_id, MIN(ts_us) AS t_view FROM e
             WHERE event_type = 'view' GROUP BY user_id),
       c AS (SELECT e.user_id, MIN(e.ts_us) AS t_click
             FROM e JOIN v USING (user_id)
             WHERE e.event_type = 'click' AND e.ts_us > v.t_view
             GROUP BY e.user_id),
       p AS (SELECT e.user_id, MIN(e.ts_us) AS t_buy
             FROM e JOIN c USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts_us > c.t_click
             GROUP BY e.user_id)
       SELECT v.user_id, CAST(v.t_view AS BIGINT) AS t_view,
              CAST(c.t_click AS BIGINT) AS t_click,
              CAST(p.t_buy AS BIGINT) AS t_buy,
              CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
                     + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END
                   AS INT) AS stage
       FROM v LEFT JOIN c ON c.user_id = v.user_id
              LEFT JOIN p ON p.user_id = v.user_id""",
)
def a18_funnel_conversion(spark, sf_dir):
    """Ordered funnel conversion — the sequence-constrained aggregate
    (view, THEN click, THEN purchase) that a15's unordered pivot
    cannot express: each step's timestamp must follow the previous
    step's, so stage counts are order-sensitive, not mere presence
    flags.  Step k is MIN(ts) over events of kind k strictly after
    step k-1's time — exact BIGINT epoch-micros (UTC-pinned NTZ cast,
    j9 precedent).  Plan: every aggregate and every join keys on
    user_id, so Catalyst reuses ONE hash partitioning across the
    whole cascade — at 100 TB the funnel costs one shuffle of the
    events table, then co-partitioned step joins; no window over the
    raw event stream is ever needed."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        e = _t(spark, sf_dir, "events").select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        v = (
            e.filter(F.col("event_type") == "view")
            .groupBy("user_id")
            .agg(F.min("ts_us").alias("t_view"))
        )
        c = (
            e.join(v, "user_id")
            .filter((F.col("event_type") == "click") & (F.col("ts_us") > F.col("t_view")))
            .groupBy("user_id")
            .agg(F.min("ts_us").alias("t_click"))
        )
        p = (
            e.join(c, "user_id")
            .filter(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") > F.col("t_click"))
            )
            .groupBy("user_id")
            .agg(F.min("ts_us").alias("t_buy"))
        )
        stage = (
            F.lit(1)
            + F.when(F.col("t_click").isNull(), 0).otherwise(1)
            + F.when(F.col("t_buy").isNull(), 0).otherwise(1)
        )
        return (
            v.join(c, "user_id", "left")
            .join(p, "user_id", "left")
            .select(
                "user_id", "t_view", "t_click", "t_buy",
                stage.cast("int").alias("stage"),
            )
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


@q(
    "a19_growth_accounting",
    # per-day growth accounting: active users, NEW users (first-ever
    # day == day), and cumulative reach (running sum of new) — the
    # cumulative-distinct problem restated as first-touch attribution
    # so it needs no expanding-window distinct
    """WITH e AS (SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
                  FROM events),
       fd AS (SELECT user_id, MIN(day) AS first_day FROM e GROUP BY user_id),
       act AS (SELECT day, COUNT(DISTINCT user_id) AS n_active
               FROM e GROUP BY day),
       nw AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
              FROM fd GROUP BY first_day)
       SELECT act.day AS day, act.n_active,
              COALESCE(nw.n_new, 0) AS n_new,
              CAST(SUM(COALESCE(nw.n_new, 0)) OVER (ORDER BY act.day)
                   AS BIGINT) AS cum_reach
       FROM act LEFT JOIN nw ON nw.day = act.day""",
)
def a19_growth_accounting(spark, sf_dir):
    """Growth accounting — per day: active users, genuinely NEW users,
    and cumulative reach.  Cumulative distinct-to-date is the classic
    trap (an expanding-window COUNT(DISTINCT) rescans the whole
    history per day); restating it as first-touch attribution — each
    user contributes to exactly the day of their MIN(day), then a
    running sum over the per-day aggregate — makes it two ordinary
    aggregates plus a window over ~one row per DAY, not per event.
    Day labels are strings (a16's lesson: string buckets hash
    identically across engines; UTC-pinned date cast).  At 100 TB
    both aggregates pre-combine map-side and the running sum runs on
    the day-grain table, which is thousands of rows forever."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        e = _t(spark, sf_dir, "events").select(
            "user_id",
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day"),
        )
        fd = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
        act = e.groupBy("day").agg(F.countDistinct("user_id").alias("n_active"))
        nw = fd.groupBy(F.col("first_day").alias("day")).agg(
            F.count("*").alias("n_new")
        )
        joined = act.join(nw, "day", "left").select(
            "day",
            "n_active",
            F.coalesce("n_new", F.lit(0).cast("long")).alias("n_new"),
        )
        w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        return joined.select(
            "day",
            "n_active",
            "n_new",
            F.sum("n_new").over(w).cast("long").alias("cum_reach"),
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


@q(
    "c22_scd2_dim",
    # SCD2 dimension versioning: each order opens a new half-open
    # validity interval per customer; valid_to = next version's
    # valid_from, open version capped at year-9999 micros
    """WITH o AS (
         SELECT o_custkey, epoch_us(o_orderdate) AS vf,
                row_number() OVER
                  (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS ver,
                lead(epoch_us(o_orderdate)) OVER
                  (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS vt
         FROM orders)
       SELECT o_custkey, CAST(ver AS INT) AS ver,
              CAST(vf AS BIGINT) AS valid_from_us,
              CAST(COALESCE(vt, 253402300800000000) AS BIGINT) AS valid_to_us,
              CAST(CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
       FROM o""",
)
def c22_scd2_dim(spark, sf_dir):
    """Slowly-changing-dimension (type 2) history build — the
    warehouse versioning shape the lakehouse ladder stores but never
    derived: each change event opens a half-open validity interval
    [valid_from, next change), the latest version stays open (capped
    at year-9999 micros) and flagged current.  This is what turns an
    append-only change log (the store's MERGE input) into an as-of
    joinable dimension — j8's as-of join CONSUMES exactly this shape.
    Deterministic under ties via the (date, orderkey) compound sort
    key; BIGINT epoch-micros, UTC-pinned.  Plan: ONE hash exchange on
    the customer key serves both window functions; at 100 TB version
    chains are per-key and short, so no skew amplification."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        o = _t(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("vf"),
        )
        w = Window.partitionBy("o_custkey").orderBy("vf", "o_orderkey")
        return o.select(
            "o_custkey",
            F.row_number().over(w).cast("int").alias("ver"),
            F.col("vf").alias("valid_from_us"),
            F.coalesce(
                F.lead("vf").over(w), F.lit(253402300800000000)
            ).alias("valid_to_us"),
            F.when(F.lead("vf").over(w).isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_current"),
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


@q(
    "i3_phrase_query",
    # positional phrase query over the i1/i2 corpus: exact-adjacency
    # match for the 2-token phrase 'order fast' (t21's top merge pair),
    # per doc: occurrence count + first position (1-based)
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
                  FROM documents
                  WHERE length(trim(text)) > 0
                    AND len(regexp_split_to_array(trim(text), '\\s+')) >= 2),
       p AS (SELECT doc_id,
                    unnest(list_transform(
                      list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                      x -> x[1] || ' ' || x[2])) AS pair,
                    unnest(generate_series(1, len(toks) - 1)) AS pos
             FROM t)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ,
              CAST(MIN(pos) AS INT) AS first_pos
       FROM p WHERE pair = 'order fast' GROUP BY doc_id""",
)
def i3_phrase_query(spark, sf_dir):
    """Positional phrase query — the third rung of the retrieval
    ladder (i1 builds the index, i2 ranks by term, THIS resolves
    exact adjacency, the query class that needs positions, not just
    postings).  Bigrams come from the t21 zip_with-over-shifted-slices
    trick with posexplode supplying the position — so the phrase
    test is a plain equality filter that Catalyst pushes below the
    aggregate, and only matching bigrams ever reach the shuffle.  In
    a real positional index the same result comes from intersecting
    two posting lists on (doc, pos+1 == pos); here the corpus-side
    derivation IS the grade, exercised against the phrase that t21
    certifies as the corpus's most frequent pair.  At 100 TB: scan,
    projection, filter, one partial-agg exchange — nothing else."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(F.col("doc_id"), F.split(F.trim("text"), r"\s+").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    pairs = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("pos0", "pair"),
    )
    return (
        pairs.filter(F.col("pair") == "order fast")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_occ"),
            (F.min("pos0") + 1).cast("int").alias("first_pos"),
        )
    )


@q(
    "a20_event_transitions",
    # first-order behavioral transition matrix: per user, consecutive
    # event-type bigrams ordered by (ts, event_id); global counts
    """WITH e AS (
         SELECT user_id, event_type,
                lead(event_type) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
         FROM events)
       SELECT event_type AS prev_type, next_type,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM e WHERE next_type IS NOT NULL
       GROUP BY event_type, next_type""",
)
def a20_event_transitions(spark, sf_dir):
    """First-order behavioral transition matrix — the Markov-chain
    estimate under session replay, anomaly scoring, and crawl-trap
    heuristics (c21 scans URL segments for self-loops; THIS is the
    behavioral analog over event streams).  Consecutive event pairs
    come from ONE lead window per user with the (ts, event_id)
    compound sort key making same-timestamp ties deterministic (the
    w6 rule), then a global (prev, next) count — 5x5 rows out.  At
    100 TB: one hash exchange on user_id for the window, then the
    transition aggregate pre-combines map-side to at most |types|^2
    rows per partition before its shuffle."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        t.filter(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )


@q(
    "s15_random_projection",
    # sign-random-projection dimensionality reduction over int8 codes:
    # 4 output dims, sign(i,j) = +1 iff ((i+1)*(2j+3)) % 11 < 6 with
    # i 0-based — all-integer after s9's engine-exact quantization
    """WITH s AS (SELECT vec_id, embedding,
           127.0 / list_aggregate(list_transform(embedding, x -> abs(x)), 'max') AS sc
       FROM embeddings),
       qd AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(FLOOR(x * sc + 0.5) AS BIGINT)) AS q
              FROM s)
       SELECT vec_id,
         CAST(list_aggregate(list_transform(q, (x, i) ->
           x * (CASE WHEN ((i) * 5) % 11 < 6 THEN 1 ELSE -1 END)), 'sum') AS BIGINT) AS proj_0,
         CAST(list_aggregate(list_transform(q, (x, i) ->
           x * (CASE WHEN ((i) * 7) % 11 < 6 THEN 1 ELSE -1 END)), 'sum') AS BIGINT) AS proj_1,
         CAST(list_aggregate(list_transform(q, (x, i) ->
           x * (CASE WHEN ((i) * 9) % 11 < 6 THEN 1 ELSE -1 END)), 'sum') AS BIGINT) AS proj_2,
         CAST(list_aggregate(list_transform(q, (x, i) ->
           x * (CASE WHEN ((i) * 11) % 13 < 7 THEN 1 ELSE -1 END)), 'sum') AS BIGINT) AS proj_3
       FROM qd""",
)
def s15_random_projection(spark, sf_dir):
    """Sign-random-projection dimensionality reduction — the 64d -> 4d
    compression that LSH signatures, coarse routing, and cheap near-dup
    blocking all sit on.  The projection matrix is a deterministic
    +-1 pattern keyed on (element index, output dim) via small-modulus
    arithmetic (mod-2 of any LINEAR index mix degenerates to parity
    stripes — the sign pattern must come from a non-power-of-two
    modulus), applied to s9's int8 codes so every product and sum is
    BIGINT and engine-exact; DuckDB's 1-based lambda index vs Spark's
    0-based is reconciled by shifting the multiplier onto (i+1).
    All-JVM: one transform + aggregate per output dim, one codegen
    projection, zero exchanges."""
    e = _t(spark, sf_dir, "embeddings")
    mx = F.array_max(F.transform("embedding", lambda v: F.abs(v)))
    sc = F.lit(127.0) / mx
    q = F.transform(
        "embedding",
        lambda v: F.floor(v.cast("double") * sc + F.lit(0.5)).cast("long"),
    )

    def proj(mult, mod, half):
        # DuckDB's lambda index is 1-based; Spark's is 0-based, so the
        # Spark side uses (i + 1) * mult to match DuckDB's i * mult.
        return F.aggregate(
            F.zip_with(
                q,
                F.sequence(F.lit(0), F.size("embedding") - 1),
                lambda x, i: F.when(((i + 1) * mult) % mod < half, x).otherwise(-x),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )

    return e.select(
        "vec_id",
        proj(5, 11, 6).alias("proj_0"),
        proj(7, 11, 6).alias("proj_1"),
        proj(9, 11, 6).alias("proj_2"),
        proj(11, 13, 7).alias("proj_3"),
    )


# =====================================================================
# skew-salted join, grouping sets, null-safe join (session-6 families)
# =====================================================================

@q(
    "j10_salted_skew_join",
    # results-identical to the plain equi-join: the salt is a pure
    # partitioning artifact, so the twin ignores it entirely
    """SELECT e.event_id, e.event_type, t.type_total
       FROM events e
       JOIN (SELECT event_type, COUNT(*) AS type_total
             FROM events GROUP BY event_type) t
       USING (event_type)""",
)
def j10_salted_skew_join(spark, sf_dir):
    """Skew-salted shuffle join — the explicit hot-key treatment the
    brief calls out.  events.event_type has a handful of distinct
    values, so a plain shuffled join on it puts EVERY row of a hot
    type into one reducer task; at 100 TB that task is the job.  The
    cure: replicate the small side across SALT slices (explode a
    0..SALT-1 sequence) and salt the big side with
    pmod(xxhash64(event_id), SALT), then join on (type, salt) — each
    hot key now spreads over SALT reducers, and the result set is
    provably identical because every big-side row still meets exactly
    one copy of its dim row.  The dim side is hinted shuffle_hash:
    with a broadcastable dim Spark would elide the shuffle entirely
    (and salting would be pointless), so the entry pins the regime the
    technique exists for.  The oracle is the UNSALTED join — grading
    results-identity, which is the whole contract of salting.  This is
    the same trick frontier.dequeue(rank_salt=) uses for hot-host
    ranking (frontier.py), graded here as a standalone operator."""
    SALT = 8
    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("type_total"))
    dim_s = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1)))
    ).hint("shuffle_hash")
    big = ev.select(
        "event_id",
        "event_type",
        F.pmod(F.xxhash64("event_id"), F.lit(SALT)).cast("int").alias("salt"),
    )
    return big.join(dim_s, ["event_type", "salt"]).select(
        "event_id", "event_type", "type_total"
    )


@q(
    "a21_grouping_sets",
    # arbitrary grouping sets: per-lang and per-source marginals plus the
    # grand total in ONE pass — NOT expressible as a single ROLLUP/CUBE
    """SELECT coalesce(lang, '<all>') AS lang_k,
              coalesce(source, '<all>') AS source_k,
              CAST(GROUPING(lang) AS INT) AS g_lang,
              CAST(GROUPING(source) AS INT) AS g_source,
              COUNT(*) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS chars_total
       FROM documents
       GROUP BY GROUPING SETS ((lang), (source), ())""",
)
def a21_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS — two independent marginals (per-lang,
    per-source) plus the grand total, which neither ROLLUP nor CUBE
    expresses without emitting the unwanted (lang, source) grain.
    Spark plans this exactly like a17's rollup: one Expand (3 grouping
    sets per input row) into one hash aggregate with map-side partial
    — a single corpus scan and a single shuffle where the naive form
    is three scans unioned.  GROUPING flags disambiguate rolled-up
    NULLs from real NULL keys (a17 precedent).  The (lang)-only and
    (source)-only marginals are the two report dimensions the
    reference computes with separate queries per dimension."""
    docs = _t(spark, sf_dir, "documents")
    r = docs.groupingSets([["lang"], ["source"], []], "lang", "source").agg(
        F.grouping("lang").cast("int").alias("g_lang"),
        F.grouping("source").cast("int").alias("g_source"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )
    return r.select(
        F.coalesce("lang", F.lit("<all>")).alias("lang_k"),
        F.coalesce("source", F.lit("<all>")).alias("source_k"),
        "g_lang",
        "g_source",
        "n_docs",
        "chars_total",
    )


@q(
    "j11_nullsafe_join",
    # null-safe equality: NULL keys MATCH each other (IS NOT DISTINCT
    # FROM), unlike '=' which silently drops every NULL row
    """WITH l AS (SELECT event_id,
                         CASE WHEN event_id % 7 = 0 THEN NULL
                              ELSE event_id % 50 END AS k
                  FROM events),
            r AS (SELECT CASE WHEN doc_id % 9 = 0 THEN NULL
                              ELSE doc_id END AS k_r,
                         'd' || CAST(doc_id AS VARCHAR) AS label
                  FROM documents WHERE doc_id < 60)
       SELECT l.event_id, l.k, r.label
       FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k_r""",
)
def j11_nullsafe_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM) — the
    semantics a plain '=' join silently gets wrong: rows whose key is
    NULL vanish from an inner equi-join, but an entity-resolution
    join over dirty keys (the reference's phone-book matching hits
    this with absent phone prefixes) needs NULL to match NULL.  Spark
    compiles eqNullSafe into a real hash-join key (NULL hashes to a
    bucket like any value), so the plan is still a broadcast hash
    join — no fallback to nested-loop — which is exactly why the
    operator scales: null-safe equality is the ONE non-'=' predicate
    that keeps hash partitioning."""
    ev = _t(spark, sf_dir, "events")
    left = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("event_id") % 50)
        .alias("k"),
    )
    docs = _t(spark, sf_dir, "documents")
    right = docs.filter(F.col("doc_id") < 60).select(
        F.when(F.col("doc_id") % 9 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("doc_id"))
        .alias("k_r"),
        F.concat(F.lit("d"), F.col("doc_id")).alias("label"),
    )
    return left.join(
        F.broadcast(right), left["k"].eqNullSafe(right["k_r"])
    ).select("event_id", "k", "label")


@q(
    "j12_snapshot_reconcile",
    # snapshot diff: FULL OUTER join classifies every key as
    # added / removed / changed; unchanged rows are suppressed
    """WITH old AS (SELECT o_orderkey AS k, o_orderstatus AS v
                    FROM orders WHERE o_orderkey % 3 <> 0),
            new AS (SELECT o_orderkey AS k,
                           CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                                ELSE o_orderstatus END AS v
                    FROM orders WHERE o_orderkey % 5 <> 0)
       SELECT k,
              CASE WHEN old.v IS NULL THEN 'added'
                   WHEN new.v IS NULL THEN 'removed'
                   WHEN old.v <> new.v THEN 'changed' END AS change,
              old.v AS old_v, new.v AS new_v
       FROM old FULL JOIN new USING (k)
       WHERE old.v IS NULL OR new.v IS NULL OR old.v <> new.v""",
)
def j12_snapshot_reconcile(spark, sf_dir):
    """Snapshot reconciliation — the table-diff report (what changed
    between two versions of a keyed extract) via ONE full-outer join:
    keys only in the new snapshot are 'added', only in the old are
    'removed', present in both with different payloads 'changed', and
    identical rows are suppressed so the output is the delta, not the
    corpus.  This is the audit view over storage.read_at pairs (c4)
    and the validation step of every backfill; the reference re-crawls
    and overwrites without a diff, which at 10^10 rows hides both
    regressions and takedown failures.  Plan: one shuffled sort-merge
    FULL OUTER on the key — the join every diff must pay; everything
    else is a codegen projection, and the 'same'-row suppression
    happens before any further shuffle so the emitted delta is
    typically orders of magnitude smaller than the inputs."""
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("old_v")
    )
    new = o.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("new_v"),
    )
    j = old.join(new, ["k"], "full")
    change = (
        F.when(F.col("old_v").isNull(), F.lit("added"))
        .when(F.col("new_v").isNull(), F.lit("removed"))
        .when(F.col("old_v") != F.col("new_v"), F.lit("changed"))
    )
    return (
        j.select("k", change.alias("change"), "old_v", "new_v")
        .filter(F.col("change").isNotNull())
    )


@q(
    "w11_ntile_buckets",
    # ntile + percent_rank are position-based: a TOTAL order
    # (value, event_id) makes both engine-exact; percent_rank is scaled
    # to an exact integer per-mille via the rank identity to avoid
    # float division drift
    """SELECT event_id, user_id,
              CAST(NTILE(4) OVER w AS INT) AS quartile,
              CAST(FLOOR(((RANK() OVER w) - 1) * 1000.0 /
                   GREATEST(COUNT(*) OVER (PARTITION BY user_id) - 1, 1))
                   AS BIGINT) AS pr_mille
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""",
)
def w11_ntile_buckets(spark, sf_dir):
    """NTILE quantile bucketing + percent_rank — the per-entity
    quantile assignment (spend quartiles, score percentiles) that
    drives stratified treatment downstream.  Both functions are
    position-based, so the ORDER BY must be a TOTAL order —
    (value, event_id) — or tie placement differs per engine run; with
    it, both are bit-deterministic.  percent_rank itself is
    (rank-1)/(n-1) in DOUBLE, which invites 1-ulp cross-engine drift,
    so the entry grades the exact INTEGER form
    floor((rank-1)*1000 / max(n-1, 1)) instead — same information and
    hash-exact, because IEEE division of integers below 2^30 is never
    within 0.5 ulp of a wrong floor boundary;
    the max(..,1) guards single-event users, whose 0/0 would RAISE
    under ANSI.
    Plan: ONE hash exchange on user_id serves ntile, rank, and the
    partition count; per-user ordering bounds the sort, never corpus
    size.  Single-user-per-task skew is bounded by the entity's event
    count."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    wc = Window.partitionBy("user_id")
    return ev.select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.floor(
            (F.rank().over(w) - 1) * 1000
            / F.greatest(F.count(F.lit(1)).over(wc) - 1, F.lit(1))
        ).cast("long").alias("pr_mille"),
    )


@q(
    "d14_prefix_filter_join",
    # analytic ground truth over a CONSTRUCTED token universe: base doc
    # s holds 20 'w'-namespace tokens ((s*17 + j*j) % 9973, j<20 — the
    # squares are distinct below the modulus so |set| is exactly 20);
    # its planted twin s+1e6 keeps the first 20-r and swaps the last
    # r = 2 + s%2 into the disjoint 'u' namespace, giving J = 18/22
    # (kept) for even s and 17/23 (dropped) for odd s.  Natural
    # overlaps are bounded by the quadratic-residue equation
    # 17*(s-s') = j'^2 - j^2 (mod 9973) — a handful of shared tokens,
    # never the 18 the threshold needs — so the FULL join output is
    # exactly the even planted pairs
    """SELECT doc_id AS id_a, CAST(doc_id + 1000000 AS BIGINT) AS id_b,
              CAST(18 AS BIGINT) AS n_inter, CAST(22 AS BIGINT) AS n_union
       FROM documents WHERE doc_id % 2 = 0""",
)
def d14_prefix_filter_join(spark, sf_dir):
    """EXACT Jaccard-threshold similarity join via prefix filtering
    (functions/dedup.prefix_filter_pairs — AllPairs/PPJoin): the
    zero-false-negative tier of the dedup ladder, complementing the
    probabilistic MinHash-LSH tier (d2) — candidates come from a
    rarest-token-first prefix equi-join (provably complete by the
    pigeonhole rule in the helper's docstring), verification is an
    integer predicate.  The UNRESTRICTED output is graded: the operator
    must find every planted >= 0.8 pair, reject every 17/23 near-miss
    twin, and reject every natural low-overlap candidate — recall AND
    precision at the exact boundary, which the LSH entries cannot
    certify.  Brute-force equality on a mixed corpus is gated in
    tests/test_prefix_filter.py."""
    from .functions.dedup import prefix_filter_pairs

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    base = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(19)),
                lambda j: F.concat(
                    F.lit("w"),
                    ((F.col("doc_id") * 17 + j * j) % 9973).cast("string"),
                ),
            )
        ).alias("tok"),
    )
    twin = d.select(
        (F.col("doc_id") + 1_000_000).alias("tid"),
        F.col("doc_id").alias("s"),
    ).select(
        F.col("tid").alias("doc_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(19)),
                lambda j: F.when(
                    j < F.lit(20) - (F.lit(2) + F.col("s") % 2),
                    F.concat(
                        F.lit("w"), ((F.col("s") * 17 + j * j) % 9973).cast("string")
                    ),
                ).otherwise(
                    F.concat(F.lit("u"), (F.col("s") * 17 + j).cast("string"))
                ),
            )
        ).alias("tok"),
    )
    return prefix_filter_pairs(base.unionByName(twin), threshold=(4, 5))


@q(
    "m12_png_text_metadata",
    # construct -> parse identity: tEXt chunks written by the real
    # encoder (Title always, Software absent when doc_id % 11 == 0)
    # must read back through the real chunk walker exactly
    """SELECT 'media://doc/' || CAST(doc_id AS VARCHAR) || '/img0' AS media_ref,
              'doc' || CAST(doc_id AS VARCHAR) AS title,
              CASE WHEN doc_id % 11 = 0 THEN NULL
                   ELSE 'sw' || CAST(doc_id % 7 AS VARCHAR) END AS software,
              CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 2 END AS INT) AS n_keys
       FROM documents WHERE doc_id < 200""",
)
def m12_png_text_metadata(spark, sf_dir):
    """In-band image metadata extraction (PNG tEXt — the spec's
    Title/Author/Software carrier, the image sibling of m7/m10's WAV
    LIST/INFO chunk): real bytes are written with metadata chunks by
    the real encoder, then read back by a chunk walker that NEVER
    inflates pixels — at 100 TB the metadata sweep costs chunk headers,
    not decodes, and routes which blobs deserve a pixel pass.  Missing
    keys are exercised (every 11th image omits Software) so extractors
    prove null handling, not just the happy path.  Two python stages
    separated by a repartition (CLAUDE.md rule 1, the m2 pattern)."""
    from .functions.multimodal import extract_media_text, synth_png_media_tagged

    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            F.concat(
                F.lit("media://doc/"), F.col("doc_id").cast("string"), F.lit("/img0")
            ).alias("media_ref"),
            F.col("doc_id").alias("seed"),
        )
    )
    media = synth_png_media_tagged(refs).repartition(8)
    return extract_media_text(media, strict=True)
