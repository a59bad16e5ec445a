"""Zero-dependency media codecs: 24-bit BMP and PCM-16 WAV, pure
``struct``-level Python.

The container ships no image/audio libraries, but these two formats
are simple enough to encode/decode exactly from their public specs
(BMP: Windows BITMAPFILEHEADER/BITMAPINFOHEADER layout; WAV: RIFF/fmt/
data chunks).  They make the multimodal operators REAL: the Arrow
``mapInPandas`` decode kernels parse actual media bytes — header fields
AND payload content — instead of stubbing, so the plumbing is proven
end-to-end (schema, batch shape, partitioning) with genuine codecs.

Production swap-in (PIL / soundfile / pyav for JPEG/FLAC/MP4) replaces
only the two ``*_decode`` bodies; everything Spark-side is unchanged.
"""

from __future__ import annotations

import struct

# ------------------------------------------------------------------ BMP

_BMP_HEADER_SIZE = 14 + 40  # BITMAPFILEHEADER + BITMAPINFOHEADER


def bmp_row_size(width: int) -> int:
    """Bytes per stored row: 3 bytes/pixel padded up to a 4-byte boundary."""
    return (width * 3 + 3) // 4 * 4


def bmp_encoded_size(width: int, height: int) -> int:
    return _BMP_HEADER_SIZE + height * bmp_row_size(width)


def bmp_encode(width: int, height: int, pixels: bytes) -> bytes:
    """Encode raw 24-bit pixel bytes (len == width*height*3, rows
    top-down) as an uncompressed BI_RGB BMP (rows stored bottom-up,
    4-byte padded — the spec's layout)."""
    if len(pixels) != width * height * 3:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, need {width * height * 3}")
    row_size = bmp_row_size(width)
    file_size = bmp_encoded_size(width, height)
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", file_size, 0, 0, _BMP_HEADER_SIZE)
    out += struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24,
                       0, height * row_size, 2835, 2835, 0, 0)
    pad = b"\x00" * (row_size - width * 3)
    for row in range(height - 1, -1, -1):         # bottom-up
        start = row * width * 3
        out += pixels[start:start + width * 3] + pad
    return bytes(out)


def bmp_decode(data: bytes) -> tuple[int, int, bytes]:
    """Parse an uncompressed 24-bit BMP → (width, height, pixel bytes
    rows top-down, unpadded).  Validates magic, header sizes, bpp."""
    if len(data) < _BMP_HEADER_SIZE or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    magic, file_size, _, _, offset = struct.unpack("<2sIHHI", data[:14])
    (hdr, width, height, planes, bpp, compression,
     _img_size, _, _, _, _) = struct.unpack("<IiiHHIIiiII", data[14:54])
    if hdr != 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP variant (hdr={hdr} bpp={bpp} comp={compression})")
    if width <= 0 or height <= 0:
        raise ValueError("top-down/degenerate BMP not supported")
    row_size = bmp_row_size(width)
    if len(data) < offset + height * row_size:
        raise ValueError("truncated BMP pixel array")
    rows = []
    for row in range(height - 1, -1, -1):          # stored bottom-up
        start = offset + row * row_size
        rows.append(data[start:start + width * 3])
    return width, height, b"".join(rows)


# ------------------------------------------------------------------ WAV

_WAV_HEADER_SIZE = 44  # RIFF + fmt(16) + data headers


def wav_encode(sample_rate: int, n_channels: int,
               samples: list[int]) -> bytes:
    """Encode interleaved PCM-16 samples (len == frames*channels) as a
    canonical 44-byte-header WAV file."""
    if len(samples) % n_channels:
        raise ValueError("sample count not a multiple of channel count")
    data = struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * n_channels * 2
    block_align = n_channels * 2
    out = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, n_channels, sample_rate, byte_rate, block_align, 16,
        b"data", len(data))
    return out + data


def wav_decode(data: bytes) -> tuple[int, int, int, list[int]]:
    """Parse a PCM-16 WAV → (sample_rate, n_channels, n_frames,
    interleaved samples).  Validates RIFF/WAVE magic and PCM format."""
    if len(data) < _WAV_HEADER_SIZE or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (fmt_tag, fmt_size, audio_fmt, n_channels, sample_rate,
     _byte_rate, _block_align, bits) = struct.unpack("<4sIHHIIHH", data[12:36])
    if fmt_tag != b"fmt " or fmt_size != 16 or audio_fmt != 1 or bits != 16:
        raise ValueError("unsupported WAV variant (non-canonical PCM-16)")
    data_tag, data_len = struct.unpack("<4sI", data[36:44])
    if data_tag != b"data" or len(data) < 44 + data_len:
        raise ValueError("truncated WAV data chunk")
    n_values = data_len // 2
    samples = list(struct.unpack(f"<{n_values}h", data[44:44 + data_len]))
    return sample_rate, n_channels, n_values // n_channels, samples
