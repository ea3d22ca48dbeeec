"""Streaming media ingestion (streaming/media.py): real decode per
micro-batch, mislabel/undecodable quarantine, idempotent replay."""

from __future__ import annotations

import numpy as np
import pytest

from datapump_spark.operators import codecs
from datapump_spark.streaming.media import StreamingMediaIngest


@pytest.fixture()
def media_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    img = np.full((6, 9, 3), 40, np.uint8)
    (d / "a.png").write_bytes(codecs.encode_png(img))
    (d / "b.bmp").write_bytes(codecs.encode_bmp(img))
    (d / "c.wav").write_bytes(codecs.encode_wav(np.zeros(400), 8000))
    # a JPEG-magic payload: honestly undecodable without codec libs
    (d / "d.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x00" * 64)
    # a REAL progressive JPEG: decodes since round 8 (no quarantine)
    from datapump_spark.operators.jpeg import encode_jpeg_progressive
    (d / "g.jpg").write_bytes(encode_jpeg_progressive(img, quality=95))
    # lossless WebP and IMA-ADPCM WAV: decode since round 8
    from datapump_spark.operators.webp import encode_webp_vp8l
    (d / "h.webp").write_bytes(encode_webp_vp8l(img))
    # LOSSY WebP (VP8 key frame): decodes since round 9 — previously
    # sniff-only quarantine, now a features row
    from datapump_spark.operators.vp8 import encode_webp_vp8
    (d / "j.webp").write_bytes(encode_webp_vp8(
        np.full((6, 9, 3), 80, np.uint8), qi=0))
    import numpy as _np
    (d / "i.wav").write_bytes(codecs.encode_wav_adpcm(
        0.4 * _np.sin(_np.arange(800) / 20.0), 8000))
    # baseline TIFF (LZW strips): decodes since round 9
    from datapump_spark.operators.tiff import encode_tiff
    (d / "k.tiff").write_bytes(encode_tiff(img, "lzw"))
    # ANIMATED WebP: admitted since round 9 (first composited frame),
    # previously an undecodable quarantine
    from datapump_spark.operators.webp import encode_webp_anim
    (d / "l.webp").write_bytes(encode_webp_anim(
        [np.full((6, 9, 3), 50, np.uint8),
         np.full((6, 9, 3), 90, np.uint8)], [100, 100]))
    # FLAC: decodes since round 9 (lossless -> features row)
    from datapump_spark.operators.flac import encode_flac
    (d / "m.flac").write_bytes(encode_flac(
        (0.3 * 32767 * np.sin(np.arange(800) / 9.0)).astype(np.int16),
        8000))
    # arithmetic-coded JPEG (SOF9): decodes since round 10
    from datapump_spark.operators.jpeg_arith import encode_jpeg_arith
    (d / "o.jpg").write_bytes(encode_jpeg_arith(img, quality=95))
    # MP3: decodes since round 10 (MPEG-1 Layer III -> features row)
    from datapump_spark.operators.mp3 import encode_mp3
    (d / "n.mp3").write_bytes(encode_mp3(
        0.4 * np.sin(2 * np.pi * 500 * np.arange(8000) / 32000.0), 32000))
    # Ogg Vorbis: decodes since round 11 (operators/vorbis.py)
    from datapump_spark.operators.vorbis import encode_vorbis
    (d / "p.ogg").write_bytes(encode_vorbis(
        0.4 * np.sin(2 * np.pi * 440 * np.arange(4000) / 8000.0), 8000))
    # Ogg Opus (r12, twin-marked SILK-NB): decodes -> features row
    from datapump_spark.operators.opus import encode_opus
    (d / "r.ogg").write_bytes(encode_opus(
        0.4 * np.sin(2 * np.pi * 440 * np.arange(4000) / 8000.0)))
    # FOREIGN lossy WebP (twin trailer stripped — i.e. what a
    # libwebp-encoded file looks like to the r12 honesty gate):
    # refused at decode, routes to quarantine instead of flowing
    # silently-wrong pixels into features/perceptual dedup
    import struct
    from datapump_spark.operators.vp8 import VP8_TWIN_MARK, encode_vp8
    _fp = encode_vp8(np.full((6, 9, 3), 80, np.uint8),
                     qi=0)[:-len(VP8_TWIN_MARK)]
    _fc = b"VP8 " + struct.pack("<I", len(_fp)) + _fp
    if len(_fp) & 1:
        _fc += b"\x00"
    (d / "q.webp").write_bytes(
        b"RIFF" + struct.pack("<I", 4 + len(_fc)) + b"WEBP" + _fc)
    # a PNG renamed to .bmp: decodable but mislabeled
    (d / "e.bmp").write_bytes(codecs.encode_png(img))
    # pure garbage with a media extension
    (d / "f.png").write_bytes(b"not an image at all")
    return d


def test_stream_decodes_and_quarantines(spark, media_dir, tmp_path):
    ing = StreamingMediaIngest(spark, str(media_dir), str(tmp_path / "out"))
    ing.drain(tmp_path / "cp")

    feats = {r["path"].rsplit("/", 1)[-1]: r for r in
             spark.read.parquet(ing.features_dir).collect()}
    quar = {r["path"].rsplit("/", 1)[-1]: r for r in
            spark.read.parquet(ing.quarantine_dir).collect()}
    assert set(feats) == {"a.png", "b.bmp", "c.wav", "g.jpg",
                          "h.webp", "i.wav", "j.webp", "k.tiff",
                          "l.webp", "m.flac", "n.mp3", "o.jpg",
                          "p.ogg", "r.ogg"}
    assert set(quar) == {"d.jpg", "e.bmp", "f.png", "q.webp"}
    # real pixel dims from the decode, not the header claim
    assert feats["a.png"]["features"][:3] == [9.0, 6.0, 3.0]
    assert feats["g.jpg"]["features"][:3] == [9.0, 6.0, 3.0]
    assert feats["o.jpg"]["features"][:3] == [9.0, 6.0, 3.0]
    assert feats["h.webp"]["features"][:3] == [9.0, 6.0, 3.0]
    assert feats["j.webp"]["features"][:3] == [9.0, 6.0, 3.0]
    assert feats["k.tiff"]["features"][:3] == [9.0, 6.0, 3.0]
    # mean over RGBA incl. the opaque alpha: (50*3 + 255) / 4
    assert feats["l.webp"]["features"][:4] == [9.0, 6.0, 4.0, 101.25]
    assert feats["i.wav"]["features"][1:3] == [1.0, 8000.0]
    assert feats["m.flac"]["features"][:3] == [800.0, 1.0, 8000.0]
    # 7 decoded MPEG-1 frames = 8064 samples at the sniffed 32 kHz
    assert feats["n.mp3"]["features"][:3] == [8064.0, 1.0, 32000.0]
    # Vorbis granule end-trims to exactly the 4000 encoded samples
    assert feats["p.ogg"]["features"][:3] == [4000.0, 1.0, 8000.0]
    assert feats["p.ogg"]["sniffed_format"] == "ogg"
    # Opus (r12): 25 whole SILK frames = 4000 samples at 8 kHz
    assert feats["r.ogg"]["features"][:3] == [4000.0, 1.0, 8000.0]
    assert feats["b.bmp"]["features"][:3] == [9.0, 6.0, 3.0]
    assert feats["c.wav"]["features"][:3] == [400.0, 1.0, 8000.0]
    assert feats["a.png"]["sniffed_format"] == "png"
    # routing reasons
    assert quar["d.jpg"]["reason"] == "undecodable"
    assert quar["q.webp"]["reason"] == "undecodable"
    assert quar["f.png"]["reason"] == "undecodable"
    assert quar["e.bmp"]["reason"] == "mislabeled"
    assert quar["e.bmp"]["sniffed_format"] == "png"


@pytest.mark.slow  # partition-overwrite replay idempotence is the
# same doctrine gated in-default by test_streaming_corpus.py::
# test_replay_is_idempotent; media decode coverage stays via
# test_stream_decodes_and_quarantines (r9 tier move)
def test_stream_replay_is_idempotent(spark, media_dir, tmp_path):
    ing = StreamingMediaIngest(spark, str(media_dir), str(tmp_path / "out"))
    ing.drain(tmp_path / "cp")
    before = sorted(r["media_id"] for r in
                    spark.read.parquet(ing.features_dir).collect())
    # fresh checkpoint: every batch replays; partition overwrite absorbs it
    ing.drain(tmp_path / "cp2")
    after = sorted(r["media_id"] for r in
                   spark.read.parquet(ing.features_dir).collect())
    assert before == after and len(before) == 14


@pytest.mark.slow  # dHash pair semantics pinned in test_multimodal;
# replay idempotence gated by test_stream_replay_is_idempotent
def test_cross_batch_perceptual_dedup(spark, tmp_path):
    """image_dedup_hamming: a later batch's noisy re-encode of an
    admitted image routes to quarantine as near_dup; distinct images
    keep flowing; only admitted images carry a dHash in the features
    store, and a fresh-checkpoint replay repeats every routing."""
    import os

    from pyspark.sql import functions as F

    d = tmp_path / "in"
    d.mkdir()
    rng = np.random.default_rng(5)
    base = rng.integers(0, 256, (24, 32, 3)).astype(np.uint8)
    noisy = np.clip(base.astype(np.int16)
                    + rng.integers(-2, 3, base.shape), 0, 255) \
        .astype(np.uint8)
    distinct = rng.integers(0, 256, (24, 32, 3)).astype(np.uint8)
    for i, (name, img) in enumerate(
            [("base.png", base), ("copy.png", noisy),
             ("fresh.png", distinct)]):
        p = d / name
        p.write_bytes(codecs.encode_png(img))
        os.utime(p, (1_000_000_000 + i * 1000,) * 2)

    ing = StreamingMediaIngest(spark, str(d), str(tmp_path / "out"),
                               max_files_per_trigger=1,
                               image_dedup_hamming=6)
    def routed():
        feats = {r["path"].rsplit("/", 1)[-1] for r in
                 spark.read.parquet(ing.features_dir).collect()}
        quar = {r["path"].rsplit("/", 1)[-1]: r["reason"] for r in
                spark.read.parquet(ing.quarantine_dir).collect()}
        return feats, quar

    ing.drain(tmp_path / "cp")
    assert routed() == ({"base.png", "fresh.png"}, {"copy.png": "near_dup"})
    idx = spark.read.parquet(ing.features_dir) \
        .where(F.col("dhash").isNotNull())
    assert idx.count() == 2          # admitted images only
    assert sorted(os.listdir(tmp_path / "out")) == ["features", "quarantine"]
    # fresh checkpoint: each batch probes earlier batches only, so the
    # replay routes every image as the first run did
    ing.drain(tmp_path / "cp2")
    assert routed() == ({"base.png", "fresh.png"}, {"copy.png": "near_dup"})
