"""Real-codec multimodal tests: struct-level BMP/WAV roundtrips plus
the Spark-side decode queries (VERDICT r01 finding 2 — the decode
kernel must parse real media bytes, not stub them)."""

from __future__ import annotations

import pytest

from ecommerce_data_engineering_spark.functions import codecs


@pytest.mark.parametrize("w,h", [(1, 1), (2, 3), (3, 2), (4, 4), (16, 12),
                                 (5, 1), (1, 7)])
def test_bmp_roundtrip_exact(w, h):
    pixels = bytes((i * 37 + 11) % 256 for i in range(w * h * 3))
    blob = codecs.bmp_encode(w, h, pixels)
    assert len(blob) == codecs.bmp_encoded_size(w, h)
    w2, h2, pixels2 = codecs.bmp_decode(blob)
    assert (w2, h2) == (w, h)
    assert pixels2 == pixels          # padding stripped, rows re-flipped


def test_bmp_rejects_garbage():
    with pytest.raises(ValueError):
        codecs.bmp_decode(b"PNG...definitely not a bmp....padding.....")
    with pytest.raises(ValueError):
        codecs.bmp_decode(codecs.bmp_encode(2, 2, bytes(12))[:20])  # truncated


@pytest.mark.parametrize("rate,ch,frames", [(8000, 1, 16), (16000, 2, 33),
                                            (44100, 2, 128), (12000, 1, 79)])
def test_wav_roundtrip_exact(rate, ch, frames):
    samples = [((i * 193) % 4096) - 2048 for i in range(frames * ch)]
    blob = codecs.wav_encode(rate, ch, samples)
    assert len(blob) == 44 + 2 * frames * ch    # RIFF header + PCM-16
    rate2, ch2, frames2, samples2 = codecs.wav_decode(blob)
    assert (rate2, ch2, frames2) == (rate, ch, frames)
    assert samples2 == samples


def test_wav_rejects_garbage():
    with pytest.raises(ValueError):
        codecs.wav_decode(b"RIFFxxxxAIFF" + bytes(40))


def test_decode_media_real_path_parses_bmp(spark, sf_dir):
    """The real BMP decoder (decode_image) returns TRUE dimensions
    parsed from the payload (the r01 stub raised here)."""
    from ecommerce_data_engineering_spark.operators import multimodal as M
    from ecommerce_data_engineering_spark.sources import load

    docs = load(spark, sf_dir, "documents").limit(20)
    media = M.synth_bmp_media(docs)
    out = {r["doc_id"]: r for r in M.decode_image(media).collect()}
    assert out
    for doc_id, row in out.items():
        assert row["width"] == 1 + doc_id % 16
        assert row["height"] == 1 + doc_id % 12
        assert row["n_bytes"] == codecs.bmp_encoded_size(
            row["width"], row["height"])
