"""Pure-stdlib RIFF/WAVE parser — the audio slot of the multimodal column.

The reference pipeline has no audio path; the task brief's multimodal
column does (audio as opaque binary + typed metadata).  This container
has no audio libraries, so the engine carries its own parser for the
format that matters for speech/training corpora interchange: RIFF/WAVE
with integer PCM (8/16/24/32-bit) and IEEE float32 samples.

Compressed codecs (MP3/AAC/Opus/A-law/µ-law) raise ``WavError`` loudly —
decode correctness over silent garbage, same contract as the image
codecs.

Validation: ``tests/test_wav_codec.py`` round-trips against the stdlib
``wave`` writer and cross-checks frame counts/format against JVM
``javax.sound.sampled`` (both independent implementations).
"""

from __future__ import annotations

import struct

WAV_SIG = b"RIFF"


class WavError(ValueError):
    """Malformed or unsupported WAVE payload."""


#: wFormatTag values we decode
_PCM, _IEEE_FLOAT, _EXTENSIBLE = 1, 3, 0xFFFE


def decode_wav(data: bytes) -> dict:
    """RIFF/WAVE bytes → ``{channels, sample_rate, bits, fmt, n_frames,
    duration_ms, samples}``.

    ``samples`` is a channels-interleaved list-of-ints (integer PCM, raw
    sample values, 8-bit unsigned offset removed → signed) or
    list-of-floats (float32).  The chunk walk tolerates unknown chunks
    (LIST/INFO/fact/cue) and the spec's odd-size pad byte.
    """
    if len(data) < 12 or data[:4] != WAV_SIG or data[8:12] != b"WAVE":
        raise WavError("not a RIFF/WAVE file")
    pos, n = 12, len(data)
    fmt = None
    frames = None
    while pos + 8 <= n:
        cid = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise WavError(f"truncated chunk {cid!r}")
        if cid == b"fmt ":
            if size < 16:
                raise WavError("fmt chunk too small")
            tag, ch, rate, _brate, _align, bits = struct.unpack(
                "<HHIIHH", body[:16])
            if tag == _EXTENSIBLE:
                if size < 40:
                    raise WavError("WAVE_FORMAT_EXTENSIBLE without SubFormat")
                tag = struct.unpack("<H", body[24:26])[0]  # GUID leads with tag
            if tag not in (_PCM, _IEEE_FLOAT):
                raise WavError(f"unsupported wFormatTag {tag} — integer PCM "
                               f"and float32 only (compressed codecs need "
                               f"audio libraries this container lacks)")
            if tag == _IEEE_FLOAT and bits != 32:
                raise WavError(f"float WAVE must be 32-bit, got {bits}")
            if tag == _PCM and bits not in (8, 16, 24, 32):
                raise WavError(f"unsupported PCM bit depth {bits}")
            if ch == 0 or rate == 0:
                raise WavError("zero channels or sample rate")
            fmt = (tag, ch, rate, bits)
        elif cid == b"data":
            frames = body
        pos += 8 + size + (size & 1)   # chunks are word-aligned (pad byte)
    if fmt is None:
        raise WavError("missing fmt chunk")
    if frames is None:
        raise WavError("missing data chunk")
    tag, ch, rate, bits = fmt
    bytes_per = bits // 8
    frame_size = bytes_per * ch
    n_frames = len(frames) // frame_size
    frames = frames[:n_frames * frame_size]   # ignore a ragged tail
    if tag == _IEEE_FLOAT:
        samples = list(struct.unpack(f"<{n_frames * ch}f", frames))
    elif bits == 8:
        samples = [b - 128 for b in frames]                    # unsigned
    elif bits == 16:
        samples = list(struct.unpack(f"<{n_frames * ch}h", frames))
    elif bits == 32:
        samples = list(struct.unpack(f"<{n_frames * ch}i", frames))
    else:  # 24-bit: sign-extend 3-byte little-endian
        samples = []
        for i in range(0, len(frames), 3):
            v = frames[i] | (frames[i + 1] << 8) | (frames[i + 2] << 16)
            samples.append(v - (1 << 24) if v & 0x800000 else v)
    return {
        "fmt": "float32" if tag == _IEEE_FLOAT else f"pcm{bits}",
        "channels": ch,
        "sample_rate": rate,
        "bits": bits,
        "n_frames": n_frames,
        "duration_ms": (n_frames * 1000) // rate,
        "samples": samples,
    }


def encode_wav(samples: list, channels: int, sample_rate: int,
               bits: int = 16, fmt: str = "pcm") -> bytes:
    """Interleaved samples → RIFF/WAVE bytes (the mirror of
    ``decode_wav``; deterministic fixture generator for the audio
    fingerprint corpus).  Integer PCM takes signed ints at the target
    depth (8-bit: signed here, stored unsigned-offset per spec);
    ``fmt='float32'`` takes floats."""
    if fmt == "float32":
        tag, bits = _IEEE_FLOAT, 32
        body = struct.pack(f"<{len(samples)}f", *samples)
    elif fmt == "pcm" and bits == 8:
        tag = _PCM
        body = bytes((s + 128) & 0xFF for s in samples)
    elif fmt == "pcm" and bits in (16, 32):
        tag = _PCM
        body = struct.pack(f"<{len(samples)}{'h' if bits == 16 else 'i'}",
                           *samples)
    elif fmt == "pcm" and bits == 24:
        tag = _PCM
        body = b"".join((s & 0xFFFFFF).to_bytes(3, "little")
                        for s in samples)
    else:
        raise WavError(f"unsupported encode format {fmt}/{bits}")
    block = channels * bits // 8
    fmt_chunk = struct.pack("<HHIIHH", tag, channels, sample_rate,
                            sample_rate * block, block, bits)
    chunks = (b"fmt " + struct.pack("<I", len(fmt_chunk)) + fmt_chunk
              + b"data" + struct.pack("<I", len(body)) + body
              + (b"\x00" if len(body) & 1 else b""))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
