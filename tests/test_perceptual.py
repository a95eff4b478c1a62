"""Perceptual image dedup: the dHash kernel (multimodal.image_dhash)
and the generic bit-string pair engine (dedup.bits_near_pairs), plus
canonical-URL election over alias components."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdx_writer_spark.functions import dedup, multimodal
from cdx_writer_spark.functions import png as pnglib


def _png_df(spark, images):
    """images: list of (doc_id, w, h, pixel_fn(x, y) -> 0..255)."""
    rows = []
    for doc_id, w, h, fn in images:
        pix = bytes(fn(x, y) for y in range(h) for x in range(w))
        rows.append((doc_id, pnglib.encode_png(w, h, 1, pix)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _dhash_py(w, h, fn, grid_w=9, grid_h=8):
    bw, bh = w // grid_w, h // grid_h
    cells = [[sum(fn(c * bw + dx, r * bh + dy)
                  for dx in range(bw) for dy in range(bh))
              for c in range(grid_w)] for r in range(grid_h)]
    return "".join("1" if cells[r][c] > cells[r][c + 1] else "0"
                   for r in range(grid_h) for c in range(grid_w - 1))


def test_image_dhash_matches_reference_arithmetic(spark):
    fn = lambda x, y: (7 * x * x + 3 * y + x * y) % 251  # noqa: E731
    df = _png_df(spark, [(1, 18, 16, fn), (2, 36, 32, fn)])
    got = {r.doc_id: r for r in multimodal.image_dhash(df).collect()}
    assert got[1].decode_status == "ok_png"
    assert got[1].dhash_bits == _dhash_py(18, 16, fn)
    # a 36x32 image bins 4x4 blocks — same formula, bigger cells
    assert got[2].dhash_bits == _dhash_py(36, 32, fn)
    assert len(got[1].dhash_bits) == 64


def test_image_dhash_brightness_invariance_and_statuses(spark):
    base = lambda x, y: (5 * x + 11 * y) % 180  # noqa: E731
    brighter = lambda x, y: base(x, y) + 40  # noqa: E731
    df = _png_df(spark, [(1, 18, 16, base), (2, 18, 16, brighter),
                         (3, 20, 16, base)])  # 20 % 9 != 0
    df = df.unionByName(spark.createDataFrame(
        [(4, bytes(b"\x00not-a-png")), (5, None)],
        "doc_id long, payload binary"))
    got = {r.doc_id: r for r in multimodal.image_dhash(df).collect()}
    # uniform brightness shift: different bytes, identical dHash
    assert got[1].dhash_bits == got[2].dhash_bits
    assert got[3].decode_status == "unsupported_geometry"
    assert got[4].decode_status == "not_png"
    assert got[5].decode_status == "null_payload"
    assert got[3].dhash_bits is None


def test_bits_near_pairs_recall_and_verify(spark):
    h0 = "0" * 64
    h1 = "1" + "0" * 63                    # hamming 1 vs h0
    h3 = "111" + "0" * 61                  # hamming 3 vs h0 (> max 2)
    rows = [(1, h0), (2, h0), (3, h1), (4, h3), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, dhash_bits string")
    got = {(r.id_a, r.id_b): r.hamming
           for r in dedup.bits_near_pairs(
               df, "dhash_bits", max_hamming=2).collect()}
    dedup.release_candidate_caches()
    # exact dup (1,2) hamming 0; (1,3)/(2,3) hamming 1; h3 is 3 away
    # from h0 (dropped) but only 2 from h1; the NULL row pairs with
    # nothing
    assert got == {(1, 2): 0, (1, 3): 1, (2, 3): 1, (3, 4): 2}


def test_bits_near_pairs_pigeonhole_recall_exhaustive(spark):
    """Every pair at hamming <= n_bands - 1 MUST be found: flip 3
    scattered bits (one per three different bands) and band 4 still
    collides."""
    h0 = "0" * 64
    flipped = list(h0)
    for i in (0, 16, 32):                  # bands 1..3 each lose one
        flipped[i] = "1"
    df = spark.createDataFrame(
        [(1, h0), (2, "".join(flipped))],
        "doc_id long, dhash_bits string")
    got = [tuple(r) for r in dedup.bits_near_pairs(
        df, "dhash_bits", max_hamming=3).collect()]
    dedup.release_candidate_caches()
    assert got == [(1, 2, 3)]


def test_bits_near_pairs_rejects_bad_band_split(spark):
    df = spark.createDataFrame([(1, "0" * 64)],
                               "doc_id long, dhash_bits string")
    try:
        dedup.bits_near_pairs(df, "dhash_bits", bit_len=64, n_bands=5)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def _wav_df(spark, rows):
    """rows: list of (doc_id, samples list[int])."""
    import io
    import struct
    import wave

    out = []
    for doc_id, samples in rows:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        out.append((doc_id, buf.getvalue()))
    return spark.createDataFrame(out, "doc_id long, payload binary")


def test_audio_fingerprint_scaling_invariance_and_reference(spark):
    from cdx_writer_spark.functions import audio as audiolib

    base = [((7 * i * i + 3 * i) % 512 - 256) for i in range(130)]
    scaled = [3 * s for s in base]
    df = _wav_df(spark, [(1, base), (2, scaled)])
    got = {r.doc_id: r for r in audiolib.audio_fingerprint(df).collect()}
    # uniform amplitude scale: different bytes, identical fingerprint
    assert got[1].fingerprint_bits == got[2].fingerprint_bits
    assert got[1].frame_len == 2 and got[1].n_samples == 130
    # reference arithmetic
    es = [sum(s * s for s in base[f * 2:(f + 1) * 2]) for f in range(65)]
    exp = "".join("1" if es[f] > es[f + 1] else "0" for f in range(64))
    assert got[1].fingerprint_bits == exp


def test_audio_fingerprint_tail_drop_and_statuses(spark):
    from cdx_writer_spark.functions import audio as audiolib

    base = [((5 * i * i + i) % 512 - 256) for i in range(130)]
    df = _wav_df(spark, [(1, base), (2, base + [9999]),  # 131: tail drops
                         (3, base[:64])])                 # too short
    df = df.unionByName(spark.createDataFrame(
        [(4, b"RIFFgarbage"), (5, None)],
        "doc_id long, payload binary"))
    got = {r.doc_id: r for r in audiolib.audio_fingerprint(df).collect()}
    # 131 samples // 65 frames -> frame_len 2, sample 130 ignored
    assert got[2].fingerprint_bits == got[1].fingerprint_bits
    assert got[2].n_samples == 131
    assert got[3].decode_status == "too_short"
    assert got[4].decode_status.startswith("decode_error:")
    assert got[5].decode_status == "null_payload"


def test_audio_near_dup_silence_edit_is_hamming_one(spark):
    from cdx_writer_spark.functions import audio as audiolib

    base = [((9 * i * i + 2 * i) % 512 - 256) for i in range(130)]
    silenced = [0, 0] + base[2:]           # frame 0 dropout
    df = _wav_df(spark, [(1, base), (2, silenced), (3, base)])
    fps = audiolib.audio_fingerprint(df)
    got = {(r.id_a, r.id_b): r.hamming
           for r in dedup.bits_near_pairs(
               fps, "fingerprint_bits", max_hamming=2).collect()}
    dedup.release_candidate_caches()
    # energy(0) drops to 0 < energy(1): exactly bit 0 flips
    assert got == {(1, 3): 0, (1, 2): 1, (2, 3): 1}


def _gif_df(spark, videos):
    """videos: list of (doc_id, [frame pixel_fn(x, y)]) — 18x16."""
    from cdx_writer_spark.functions import gif as giflib

    rows = []
    for doc_id, fns in videos:
        frames = [(18, 16, bytes(fn(x, y) for y in range(16)
                                 for x in range(18))) for fn in fns]
        rows.append((doc_id, giflib.encode_gif(frames)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_video_frame_dhash_fanout_and_reference(spark):
    f0 = lambda x, y: (3 * x * x + 2 * y) % 240  # noqa: E731
    f1 = lambda x, y: (5 * x + 7 * y * y) % 240  # noqa: E731
    df = _gif_df(spark, [(1, [f0, f1])])
    got = sorted(multimodal.video_frame_dhash(df).collect(),
                 key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in got] == [0, 1]    # 1 row -> 2 rows
    assert got[0].dhash_bits == _dhash_py(18, 16, f0)
    assert got[1].dhash_bits == _dhash_py(18, 16, f1)
    assert all(r.decode_status == "ok_gif" for r in got)


def test_video_frame_vote_semantics(spark):
    base = lambda x, y: (4 * x * x + 3 * y) % 200  # noqa: E731
    shifted = lambda x, y: base(x, y) + 30  # noqa: E731

    def edited0(x, y):                      # frame 0 edited hard
        return 255 - base(x, y)

    other = lambda x, y: (9 * x + 11 * y * y + x * y) % 251  # noqa: E731
    # video 1: base x4; video 2: brightness-shifted (all 4 agree);
    # video 3: frame 0 replaced (3 of 4 agree); video 4: unrelated
    df = _gif_df(spark, [
        (1, [base] * 4), (2, [shifted] * 4),
        (3, [edited0] + [base] * 3), (4, [other] * 4)])
    frames = multimodal.video_frame_dhash(df)
    fid = (F.col("doc_id") * 8 + F.col("frame_idx")).alias("fid")
    pairs = dedup.bits_near_pairs(frames.select(fid, "dhash_bits"),
                                  "dhash_bits", id_col="fid",
                                  max_hamming=1)
    votes = (pairs.filter((F.col("id_a") % 8) == (F.col("id_b") % 8))
             .groupBy(F.expr("id_a div 8").alias("a"),
                      F.expr("id_b div 8").alias("b"))
             .agg(F.count(F.lit(1)).alias("n"))
             .filter(F.col("n") >= 3))
    got = {(r.a, r.b): r.n for r in votes.collect()}
    dedup.release_candidate_caches()
    assert got.get((1, 2)) == 4     # all frames agree
    assert got.get((1, 3)) == 3     # edited frame 0 disagrees
    assert got.get((2, 3)) == 3
    assert (1, 4) not in got and (2, 4) not in got and (3, 4) not in got
