

def test_binarize_rgba_matches_reference_pixel_loop():
    """Golden vs a literal per-pixel transcription of the reference's
    three-pass loop (binaryzationImage share_func.py:194-221)."""
    import numpy as np

    from spider_spark.functions.multimodal import binarize_rgba

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(13, 17, 4), dtype=np.uint8)

    ref = img.copy()
    h, w = ref.shape[:2]
    for y in range(h):
        for x in range(w):
            if ref[y, x][0] < 90:
                ref[y, x] = (0, 0, 0, 255)
    for y in range(h):
        for x in range(w):
            if ref[y, x][1] < 136:
                ref[y, x] = (0, 0, 0, 255)
    for y in range(h):
        for x in range(w):
            if ref[y, x][2] > 0:
                ref[y, x] = (255, 255, 255, 255)

    got = binarize_rgba(img)
    assert (got == ref).all()
    # result is pure black/white
    flat = got.reshape(-1, 4)
    assert set(map(tuple, flat)) <= {(0, 0, 0, 255), (255, 255, 255, 255)}


def test_binarize_media_plumbing(spark):
    from pyspark.sql import functions as F

    from spider_spark.functions.multimodal import binarize_media, synth_media_table

    refs = spark.range(8).select(
        F.concat(F.lit("media://h0/p"), F.col("id"), F.lit("/img0")).alias("media_ref")
    )
    media = synth_media_table(refs)
    out = binarize_media(media).collect()
    assert len(out) == 8
    for r in out:
        assert r["width"] * r["height"] * 4 == len(r["binarized"])
        assert 0.0 <= r["frac_white"] <= 1.0
    # deterministic across runs
    again = {r["media_ref"]: r["frac_white"] for r in binarize_media(media).collect()}
    assert again == {r["media_ref"]: r["frac_white"] for r in out}


def test_resize_media_shape_and_determinism(spark):
    from pyspark.sql import functions as F

    from spider_spark.functions.multimodal import resize_media, synth_media_table

    refs = spark.range(6).select(
        F.concat(F.lit("media://h1/p"), F.col("id"), F.lit("/img0")).alias("media_ref")
    )
    media = synth_media_table(refs)
    out = resize_media(media, out_w=16, out_h=8).collect()
    assert len(out) == 6
    for r in out:
        assert (r["width"], r["height"]) == (16, 8)
        assert len(r["content"]) == 16 * 8 * 4
    again = {r["media_ref"]: r["content"] for r in resize_media(media, 16, 8).collect()}
    assert again == {r["media_ref"]: r["content"] for r in out}


def test_frame_sample_rows_per_kept_frame(spark):
    from pyspark.sql import functions as F

    from spider_spark.functions.multimodal import frame_sample, synth_media_table

    refs = spark.range(10).select(
        F.concat(F.lit("media://h2/p"), F.col("id"), F.lit("/vid0")).alias("media_ref")
    )
    media = synth_media_table(refs)  # 'vid0' refs -> video kind
    out = frame_sample(media, every_k=7)
    rows = out.collect()
    assert len(rows) >= 10  # at least frame 0 per video
    by_ref: dict = {}
    for r in rows:
        by_ref.setdefault(r["media_ref"], []).append(r)
    for ref, rs in by_ref.items():
        n = rs[0]["n_frames"]
        expected = list(range(0, n, 7))
        assert sorted(r["frame_idx"] for r in rs) == expected
        assert all(len(r["frame"]) > 0 for r in rs)


def test_mpng_roundtrip_and_seek():
    """Container encode -> parse returns the exact frame blobs; each is a
    decodable PNG."""
    import numpy as np

    from spider_spark.functions import png
    from spider_spark.functions.multimodal import encode_mpng, is_mpng, parse_mpng

    frames = []
    for f in range(5):
        px = np.full((3, 4, 4), f * 10, dtype=np.uint8)
        px[..., 3] = 255
        frames.append(png.encode_png(px, filter_type=f))
    blob = encode_mpng(frames)
    assert is_mpng(blob) and not is_mpng(frames[0])
    back = parse_mpng(blob)
    assert back == frames
    assert png.decode_png(back[2])[0, 0, 0] == 20


def test_sample_frame_stats_real_decode(spark):
    """Sampled indices are 0, k, 2k..; stats come from the REAL per-frame
    decode; strict mode rejects non-container blobs."""
    import pytest
    from pyspark.sql import functions as F
    from spider_spark.functions.multimodal import (
        sample_frame_stats,
        synth_media_table,
        synth_png_video,
    )

    refs = spark.range(12).select(
        F.concat(F.lit("media://doc/"), F.col("id"), F.lit("/vid0")).alias("media_ref"),
        F.col("id").alias("seed"),
    )
    out = sample_frame_stats(synth_png_video(refs), every_k=4, strict=True).collect()
    by_ref: dict = {}
    for r in out:
        by_ref.setdefault(r["media_ref"], []).append(r)
    assert len(by_ref) == 12
    for rs in by_ref.values():
        n = rs[0]["n_frames"]
        assert 3 <= n <= 10
        assert sorted(r["frame_idx"] for r in rs) == list(range(0, n, 4))
        for r in rs:
            # sum_r recomputed from the generator formula
            s = int(r["media_ref"].split("/")[-2])
            w, h, f = 8 + s % 5, 8 + s % 3, r["frame_idx"]
            expect = sum((5 * s + 7 * f + 11 * i) % 256 for i in range(w * h))
            assert (r["width"], r["height"], r["sum_r"]) == (w, h, expect)

    fake = synth_media_table(
        spark.range(1).select(F.lit("media://doc/1/vid0").alias("media_ref"))
    )
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        sample_frame_stats(fake, strict=True).collect()


def test_wav_roundtrip_and_chunk_walk():
    """Encode -> decode is exact; decoders skip foreign chunks (LIST)
    spec-conformantly; malformed payloads raise."""
    import struct

    import numpy as np
    import pytest

    from spider_spark.functions import wav

    samples = (((37 * 7 + 11 * np.arange(703, dtype=np.int64)) % 2003) - 1001).astype(
        np.int16
    )
    blob = wav.encode_wav(samples, 8700)
    rate, back = wav.decode_wav(blob)
    assert rate == 8700 and np.array_equal(back, samples)
    assert wav.is_wav(blob) and not wav.is_wav(b"RIFFxxxx....")

    # insert a LIST chunk between fmt and data: chunk walk must skip it
    hdr, rest = blob[: 12 + 24], blob[12 + 24 :]
    lst = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"
    blob2 = blob[:12] + hdr[12:] + lst + rest
    r2, b2 = wav.decode_wav(blob2)
    assert r2 == 8700 and np.array_equal(b2, samples)

    with pytest.raises(ValueError, match="signature"):
        wav.decode_wav(b"not a wav at all")


def test_wav_stats_real_decode(spark):
    """Spark-side wav_stats decodes genuine RIFF bytes; strict mode
    rejects non-WAV blobs."""
    import pytest
    from pyspark.sql import functions as F

    from spider_spark.functions.multimodal import (
        synth_media_table,
        synth_wav_media,
        wav_stats,
    )

    refs = spark.range(15).select(
        F.concat(F.lit("media://doc/"), F.col("id"), F.lit("/aud0")).alias("media_ref"),
        F.col("id").alias("seed"),
    )
    out = {r["media_ref"]: r for r in wav_stats(synth_wav_media(refs), strict=True).collect()}
    assert len(out) == 15
    for ref, r in out.items():
        s = int(ref.split("/")[-2])
        n = 500 + s % 300
        expect = sum(((37 * s + 11 * i) % 2003) - 1001 for i in range(n))
        assert (r["sample_rate"], r["n_samples"], r["sum_amp"]) == (
            8000 + 100 * (s % 5), n, expect,
        )

    fake = synth_media_table(
        spark.range(1).select(F.lit("media://doc/1/aud0").alias("media_ref"))
    )
    with pytest.raises(Exception):  # NotImplementedError inside the worker
        wav_stats(fake, strict=True).collect()


def test_average_hash_brightness_invariance_and_discrimination():
    """The aHash contract behind m9_phash_near_dup: a uniform +c shift
    (no wrap) leaves the 64-bit hash bit-identical — every integer floor
    (gray, block means, reference mean) moves by exactly +c so all
    comparisons, ties included, are unchanged — while the PNG byte
    streams differ (an exact byte hash misses the pair).  Unrelated
    images must not collide at the planted offset."""
    import numpy as np

    from spider_spark.functions import png
    from spider_spark.functions.multimodal import average_hash_rgba

    def img(s, sh):
        w, h = 16 + s % 17, 16 + s % 13
        i = np.arange(w * h, dtype=np.int64)
        px = np.empty((h, w, 4), dtype=np.uint8)
        px[..., 0] = ((7 * s + 13 * i) % 255 + sh).reshape(h, w)
        px[..., 1] = ((11 * s + 29 * i) % 255 + sh).reshape(h, w)
        px[..., 2] = ((3 * i + s) % 200 + sh).reshape(h, w)
        px[..., 3] = 255
        return px

    for s in range(0, 120):
        assert average_hash_rgba(img(s, 0)) == average_hash_rgba(img(s, 1))
    assert png.encode_png(img(4, 0)) != png.encode_png(img(4, 1))
    # odd ids pair with an UNRELATED seed in m9 — those must discriminate
    for s in range(1, 120, 2):
        assert average_hash_rgba(img(s, 0)) != average_hash_rgba(img(s + 500_000, 1))


def test_average_hash_random_uniform_shift_invariance():
    """Property form on random images: any uniform shift that stays in
    range is hash-invariant; hash fits in 64 bits."""
    import numpy as np

    from spider_spark.functions.multimodal import average_hash_rgba

    rng = np.random.RandomState(7)
    for _ in range(25):
        h, w = rng.randint(8, 40), rng.randint(8, 40)
        px = rng.randint(0, 200, size=(h, w, 4), dtype=np.uint8)
        px[..., 3] = 255
        c = rng.randint(1, 55)
        shifted = px.copy()
        shifted[..., :3] += np.uint8(c)
        a, b = average_hash_rgba(px), average_hash_rgba(shifted)
        assert a == b
        assert 0 <= a < (1 << 64)


def test_average_hash_media_real_decode_roundtrip(spark):
    """average_hash_media over real PNG bytes equals the pure-array hash
    computed driver-side on the same pixels (codec roundtrip lossless)."""
    import numpy as np

    from spider_spark.functions.multimodal import (
        average_hash_media,
        average_hash_rgba,
        synth_shifted_png_media,
    )

    refs = spark.createDataFrame(
        [(str(s), s, s % 2) for s in range(12)], "media_ref string, seed long, shift int"
    )
    got = {
        r["media_ref"]: r["ahash"]
        for r in average_hash_media(synth_shifted_png_media(refs)).collect()
    }

    def img(s, sh):
        w, h = 16 + s % 17, 16 + s % 13
        i = np.arange(w * h, dtype=np.int64)
        px = np.empty((h, w, 4), dtype=np.uint8)
        px[..., 0] = ((7 * s + 13 * i) % 255 + sh).reshape(h, w)
        px[..., 1] = ((11 * s + 29 * i) % 255 + sh).reshape(h, w)
        px[..., 2] = ((3 * i + s) % 200 + sh).reshape(h, w)
        px[..., 3] = 255
        return px

    for s in range(12):
        assert got[str(s)] == f"{average_hash_rgba(img(s, s % 2)):016x}"


def test_wav_info_chunk_roundtrip_bytes_differ_samples_equal():
    """encode_wav(info=): the LIST/INFO metadata chunk changes the byte
    stream (and its md5 — the media-store key) but the chunk-walking
    decoder returns identical samples; both word-alignment paths (odd
    and even payload length) roundtrip."""
    import hashlib

    import numpy as np

    from spider_spark.functions import wav

    samples = (np.arange(777) % 2003 - 1001).astype(np.int16)
    plain = wav.encode_wav(samples, 8000)
    for info in (b"c", b"cc", b"ccc"):  # odd/even payloads -> both pads
        tagged = wav.encode_wav(samples, 8000, info=info)
        assert tagged != plain
        assert hashlib.md5(tagged).hexdigest() != hashlib.md5(plain).hexdigest()
        rate, got = wav.decode_wav(tagged)
        assert rate == 8000 and (got == samples).all()


def test_audio_fingerprint_catches_retagged_copy(spark):
    """audio_fingerprint_media over real WAV bytes: a re-tagged copy
    fingerprints identically (same rate+PCM) while unrelated audio never
    collides; the fingerprint changes when the rate changes even for
    identical sample arrays."""
    import numpy as np

    from spider_spark.functions import wav
    from spider_spark.functions.multimodal import audio_fingerprint_media

    s = (np.arange(600) % 2003 - 1001).astype(np.int16)
    rows = [
        ("base", wav.encode_wav(s, 8000)),
        ("retag", wav.encode_wav(s, 8000, info=b"comment")),
        ("other", wav.encode_wav((s + 1).astype(np.int16), 8000)),
        ("rate", wav.encode_wav(s, 8100)),
    ]
    media = spark.createDataFrame(rows, "media_ref string, content binary")
    got = {r["media_ref"]: r for r in audio_fingerprint_media(media).collect()}
    assert got["base"]["pcm_md5"] == got["retag"]["pcm_md5"]
    assert got["base"]["pcm_md5"] != got["other"]["pcm_md5"]
    assert got["base"]["pcm_md5"] != got["rate"]["pcm_md5"]
    assert got["base"]["n_samples"] == 600


def test_video_fingerprint_catches_refiltered_copy(spark):
    """video_fingerprint_media: a container re-encoded with different
    scanline filters has different BYTES but an identical frame
    fingerprint; dropping one frame or changing one pixel changes it."""
    import numpy as np

    from spider_spark.functions import png
    from spider_spark.functions.multimodal import encode_mpng, video_fingerprint_media

    def frame(f, bump=0):
        i = np.arange(8 * 9, dtype=np.int64)
        px = np.empty((8, 9, 4), dtype=np.uint8)
        px[..., 0] = ((7 * f + 11 * i) % 256).reshape(8, 9)
        px[..., 1] = ((13 * f + 17 * i) % 256).reshape(8, 9)
        px[..., 2] = ((f + i) % 5).reshape(8, 9)
        px[..., 3] = 255
        px[0, 0, 0] = (int(px[0, 0, 0]) + bump) % 256
        return px

    frames = [frame(f) for f in range(4)]
    base = encode_mpng([png.encode_png(p, filter_type=f % 5) for f, p in enumerate(frames)])
    refl = encode_mpng([png.encode_png(p, filter_type=(f + 1) % 5) for f, p in enumerate(frames)])
    short = encode_mpng([png.encode_png(p, filter_type=0) for p in frames[:3]])
    bumped = encode_mpng(
        [png.encode_png(frame(f, bump=1 if f == 2 else 0), filter_type=0) for f in range(4)]
    )
    assert base != refl
    media = spark.createDataFrame(
        [("base", base), ("refl", refl), ("short", short), ("bumped", bumped)],
        "media_ref string, content binary",
    )
    got = {r["media_ref"]: r for r in video_fingerprint_media(media).collect()}
    assert got["base"]["frames_md5"] == got["refl"]["frames_md5"]
    assert got["base"]["frames_md5"] != got["short"]["frames_md5"]
    assert got["base"]["frames_md5"] != got["bumped"]["frames_md5"]
    assert got["base"]["n_frames"] == 4 and got["short"]["n_frames"] == 3


def test_only_the_per_blob_helper_calls_map_in_pandas():
    """Every media operator and store builder is a row function behind
    ``_per_blob``: no other function in multimodal.py builds its own
    mapInPandas batch loop."""
    import ast
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "spider_spark/functions/multimodal.py"
    tree = ast.parse(path.read_text())
    callers = {
        f.name
        for f in tree.body if isinstance(f, ast.FunctionDef)
        for n in ast.walk(f)
        if isinstance(n, ast.Attribute) and n.attr == "mapInPandas"
    }
    assert callers == {"_per_blob"}


# md5 over the sorted (media_ref, content) rows of each builder for
# seeds 0..39 (flags = seed % 2); no oracle reads the store bytes
_BUILDER_MD5 = {
    "synth_png_media": "ae6b6bb9cbea185e70b27a1fc3f872c3",
    "synth_png_media_tagged": "68119e62d2b3f91cf973e3f4bc4091fc",
    "synth_shifted_png_media": "788661d4e7aa90fe261ad9f5d2886c84",
    "synth_jpeg_media": "b61454830b5281df80be2b5dc6e4ed38",
    "synth_wav_media": "e8458760af1c066a79973f9b75df0a41",
    "synth_tagged_wav_media": "2668408159148444cacef5e88aa86493",
    "synth_png_video": "435c4de0005b280ed77137c559a0da70",
    "synth_tagged_png_video": "7fee385ffd85d50f00c4d6f7f1f051bb",
}


def test_synth_builders_bytes_are_pinned(spark):
    import hashlib

    from pyspark.sql import functions as F

    from spider_spark.functions import multimodal as mm

    refs = spark.range(40).select(
        F.concat(F.lit("media://pin/"), F.col("id")).alias("media_ref"),
        F.col("id").alias("seed"),
        *[(F.col("id") % 2).cast("int").alias(c) for c in ("shift", "retag", "refilter")],
    )
    got = {}
    for name in _BUILDER_MD5:
        rows = getattr(mm, name)(refs).collect()
        assert all(r["n_bytes"] == len(r["content"]) for r in rows)
        h = hashlib.md5()
        for ref, content in sorted((r["media_ref"], bytes(r["content"])) for r in rows):
            h.update(ref.encode() + b"\0" + content)
        got[name] = h.hexdigest()
    assert got == _BUILDER_MD5


def test_media_operators_on_empty_input_keep_their_schema(spark):
    from pyspark.sql import functions as F

    from spider_spark.functions import multimodal as mm

    refs = spark.range(4).select(
        F.concat(F.lit("media://e/"), F.col("id")).alias("media_ref"),
        F.col("id").alias("seed"),
    )
    empty = mm.synth_png_media(refs).filter(F.col("n_bytes") < 0)
    schemas = {
        "decode_and_featurize": "media_ref:string,media_kind:string,n_bytes:int,"
        "width:int,height:int,n_frames:int,byte_entropy:double",
        "binarize_media": "media_ref:string,width:int,height:int,binarized:binary,"
        "frac_white:double,n_white:int",
        "resize_media": "media_ref:string,width:int,height:int,content:binary",
        "resize_stats": "media_ref:string,width:int,height:int,sum_r:bigint",
        "jpeg_stats": "media_ref:string,width:int,height:int,sum_r:bigint",
        "wav_stats": "media_ref:string,sample_rate:int,n_samples:int,sum_amp:bigint",
        "sample_frame_stats": "media_ref:string,frame_idx:int,n_frames:int,"
        "width:int,height:int,sum_r:bigint",
        "frame_sample": "media_ref:string,frame_idx:int,n_frames:int,frame:binary",
        "average_hash_media": "media_ref:string,width:int,height:int,ahash:string",
        "audio_fingerprint_media": "media_ref:string,rate:int,n_samples:int,pcm_md5:string",
        "video_fingerprint_media": "media_ref:string,n_frames:int,frames_md5:string",
        "extract_media_text": "media_ref:string,title:string,software:string,n_keys:int",
    }
    for name, fields in schemas.items():
        out = getattr(mm, name)(empty)
        assert out.schema.simpleString() == f"struct<{fields}>", name
        assert out.collect() == [], name


def test_lax_operators_skip_or_null_undecodable_blobs(spark):
    """Lax mode over a mixed store: the audio and video fingerprints drop
    blobs they cannot decode, extract_media_text keeps them as a NULL
    row with n_keys = -1."""
    from pyspark.sql import functions as F

    from spider_spark.functions import multimodal as mm

    def refs(kind):
        return spark.range(3).select(
            F.concat(F.lit(f"{kind}/"), F.col("id")).alias("media_ref"),
            F.col("id").alias("seed"),
        )

    media = (
        mm.synth_png_media_tagged(refs("img"))
        .unionByName(mm.synth_wav_media(refs("aud")))
        .unionByName(mm.synth_png_video(refs("vid")))
    )
    audio = mm.audio_fingerprint_media(media, strict=False).collect()
    assert sorted(r["media_ref"] for r in audio) == ["aud/0", "aud/1", "aud/2"]
    video = mm.video_fingerprint_media(media, strict=False).collect()
    assert sorted(r["media_ref"] for r in video) == ["vid/0", "vid/1", "vid/2"]
    text = {r["media_ref"]: tuple(r)[1:] for r in mm.extract_media_text(media).collect()}
    assert len(text) == 9
    for s in range(3):
        assert text[f"img/{s}"] == (f"doc{s}", None if s == 0 else f"sw{s}", 1 if s == 0 else 2)
        assert text[f"aud/{s}"] == text[f"vid/{s}"] == (None, None, -1)


def test_lax_average_hash_skips_blobs_under_8x8(spark):
    """Lax average_hash_media drops a blob whose fake decode is smaller
    than 8x8 pixels (100 bytes -> a 5x5 grid) instead of failing the
    whole job; larger blobs and real PNGs still hash, and strict mode
    still raises on the short blob."""
    import pytest

    from spider_spark.functions import multimodal as mm

    refs = spark.createDataFrame([("img/0", 0)], "media_ref string, seed long")
    blobs = spark.createDataFrame(
        [("short", bytes(range(100)), "image", 100),
         ("long", bytes(range(256)) * 2, "image", 512)],
        mm.MEDIA,
    )
    got = {
        r["media_ref"]: (r["width"], r["height"])
        for r in mm.average_hash_media(
            mm.synth_png_media(refs).unionByName(blobs), strict=False
        ).collect()
    }
    assert set(got) == {"img/0", "long"}
    assert got["long"] == (11, 11)  # 512 bytes -> 128 pixels -> 11x11
    with pytest.raises(Exception, match="PIL/ffmpeg"):
        mm.average_hash_media(blobs.filter("media_ref = 'short'"), strict=True).collect()
