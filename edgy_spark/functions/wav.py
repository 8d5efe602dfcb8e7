"""Pure-stdlib RIFF/WAVE (PCM16) codec, written from the public RIFF and
WAVE format specifications (Microsoft/IBM Multimedia Programming Interface
and Data Specifications 1.0; the canonical fmt/data chunk layout).

Exists for the same reason as :mod:`edgy_spark.functions.png`: the audio
libraries are not in this container, but "decode" must still mean decode.
This module gives the multimodal operators a REAL audio path — genuine WAV
bytes in a ``binary`` column, parsed back to PCM samples inside Arrow
batches — with zero third-party dependencies, cross-validated against two
independent implementations (the stdlib ``wave`` module and the JVM's
``javax.sound.sampled``) in tests/test_wav.py.

Like png.py the module is pure stdlib, so operators ship it to Python
workers BY VALUE (``_codec`` in operators/multimodal.py) — decode works
even when the workers have no ``edgy_spark`` on sys.path.

Reference parity note: the reference engine stores media-like values as
opaque Binary attributes (/root/reference/src/Edgy/Schema.hs:148-155) and
leaves interpretation to the application; this codec is that application
layer for audio, built engine-side so a 100 TB corpus decodes at executor
parallelism.
"""

from __future__ import annotations

import struct

_FMT_PCM = 1


def encode_wav(sample_rate: int, channels: int, samples: list[int]) -> bytes:
    """Canonical 16-bit PCM little-endian WAV: RIFF header + ``fmt `` +
    ``data``.  ``samples`` are interleaved signed 16-bit frames (so
    ``len(samples)`` must be a multiple of ``channels``)."""
    if channels < 1:
        raise ValueError(f"channels must be >= 1, got {channels}")
    if sample_rate < 1:
        raise ValueError(f"sample_rate must be >= 1, got {sample_rate}")
    if len(samples) % channels:
        raise ValueError(
            f"{len(samples)} samples do not interleave into {channels} channels"
        )
    raw = struct.pack(f"<{len(samples)}h", *samples)
    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH",
        _FMT_PCM,
        channels,
        sample_rate,
        sample_rate * block_align,
        block_align,
        16,
    )
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(raw))
        + raw
        + (b"\x00" if len(raw) & 1 else b"")  # RIFF chunks are word-aligned
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_wav(data: bytes) -> tuple[int, int, list[int]]:
    """Parse WAV bytes to ``(sample_rate, channels, samples)`` with samples
    as interleaved signed ints.  Walks the RIFF chunk stream (unknown
    chunks are skipped, odd-sized chunks consume their pad byte, chunk
    order is free per the spec — ``fmt `` must merely precede ``data``).
    Only PCM 16-bit is supported: that is what :func:`encode_wav` emits and
    what a training-data pipeline normalizes to before feature extraction;
    anything else raises ValueError rather than misreading samples."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    riff_len = struct.unpack("<I", data[4:8])[0]
    end = min(len(data), 8 + riff_len)
    pos = 12
    fmt = None
    raw = None
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        ln = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            raise ValueError(f"truncated {tag!r} chunk: {len(body)} < {ln}")
        if tag == b"fmt " and fmt is None:
            fmt = body
        elif tag == b"data" and raw is None:
            if fmt is None:
                raise ValueError("data chunk before fmt chunk")
            raw = body
        pos += 8 + ln + (ln & 1)  # odd chunk sizes are padded to word align
    if fmt is None or raw is None:
        raise ValueError("missing fmt or data chunk")
    if len(fmt) < 16:
        raise ValueError(f"fmt chunk too short: {len(fmt)} bytes")
    audio_format, channels, sample_rate, _byte_rate, _block_align, bits = (
        struct.unpack("<HHIIHH", fmt[:16])
    )
    if audio_format != _FMT_PCM or bits != 16:
        raise ValueError(
            f"unsupported encoding: format={audio_format} bits={bits}"
            " (PCM16 only)"
        )
    if channels < 1:
        raise ValueError("fmt chunk declares zero channels")
    if sample_rate < 1:
        raise ValueError("fmt chunk declares zero sample rate")
    n = len(raw) // 2
    samples = list(struct.unpack(f"<{n}h", raw[: n * 2]))
    if len(samples) % channels:
        raise ValueError(
            f"{len(samples)} samples do not interleave into {channels} channels"
        )
    return sample_rate, channels, samples


def decode_wav(data: bytes) -> tuple[int, int, list[int]]:
    """Public entry point over :func:`_decode_wav` (see it for the format
    contract): EVERY malformed-input failure surfaces as ValueError
    (struct errors from fuzzed or truncated bytes are normalized), the
    same per-row-capturable surface the image codecs guarantee."""
    try:
        return _decode_wav(data)
    except ValueError:
        raise
    except (struct.error, IndexError, OverflowError) as e:
        raise ValueError(f"malformed WAV: {type(e).__name__}: {e}") from e
