"""RIFF/WAVE parser: round-trips vs the stdlib ``wave`` writer, format
cross-check vs JVM javax.sound.sampled, error contract."""

import io
import math
import struct
import wave

import pytest

from databricks_pdf_ocr_spark.functions.wavmini import WavError, decode_wav


def _tone(n, rate=8000, freq=440.0, amp=0.5):
    return [amp * math.sin(2 * math.pi * freq * i / rate) for i in range(n)]


def _stdlib_wav(samples, channels=1, rate=8000, width=2):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        if width == 1:
            frames = bytes(int(s * 127) + 128 for s in samples)
        else:
            frames = b"".join(struct.pack("<h", int(s * 32767))
                              for s in samples)
        w.writeframes(frames)
    return buf.getvalue()


def _float32_wav(samples, channels=1, rate=8000):
    """Hand-built IEEE-float WAVE (stdlib wave can't write float)."""
    data = b"".join(struct.pack("<f", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 3, channels, rate,
                      rate * channels * 4, channels * 4, 32)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_pcm16_roundtrip_vs_stdlib_wave():
    tone = _tone(800)
    data = _stdlib_wav(tone, channels=1, rate=8000, width=2)
    d = decode_wav(data)
    assert (d["fmt"], d["channels"], d["sample_rate"], d["bits"]) == \
        ("pcm16", 1, 8000, 16)
    assert d["n_frames"] == 800 and d["duration_ms"] == 100
    # exact sample equality vs the independent stdlib path
    with wave.open(io.BytesIO(data)) as w:
        truth = struct.unpack(f"<{w.getnframes()}h", w.readframes(800))
    assert tuple(d["samples"]) == truth


def test_pcm8_and_stereo():
    tone = _tone(400)
    mono8 = decode_wav(_stdlib_wav(tone, width=1))
    assert mono8["fmt"] == "pcm8" and mono8["n_frames"] == 400
    stereo = decode_wav(_stdlib_wav(tone, channels=2, width=2))
    assert stereo["channels"] == 2 and stereo["n_frames"] == 200


def test_float32_and_features():
    tone = _tone(1600, amp=0.5)
    d = decode_wav(_float32_wav(tone))
    assert d["fmt"] == "float32" and d["n_frames"] == 1600
    assert d["samples"][1] == pytest.approx(tone[1], abs=1e-6)
    # sine at amplitude A: RMS = A/sqrt(2), peak = A
    samples = d["samples"]
    rms = math.sqrt(sum(v * v for v in samples) / len(samples))
    assert rms == pytest.approx(0.5 / math.sqrt(2), rel=2e-3)
    assert max(map(abs, samples)) == pytest.approx(0.5, rel=2e-3)


def test_pcm24_sign_extension():
    # -1 and +1 at 24-bit full scale, hand-packed little-endian
    frames = b"\xff\xff\xff" + b"\x01\x00\x00"
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(frames)) + frames)
    d = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert d["samples"] == [-1, 1]


def test_unknown_chunks_and_padding_tolerated():
    tone = _tone(100)
    data = _stdlib_wav(tone)
    # splice an odd-sized LIST chunk (forces the word-align pad) before fmt
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    patched = data[:12] + junk + data[12:]
    patched = patched[:4] + struct.pack(
        "<I", len(patched) - 8) + patched[8:]
    assert decode_wav(patched)["n_frames"] == 100


def test_error_contract():
    with pytest.raises(WavError, match="not a RIFF"):
        decode_wav(b"\x00" * 32)
    with pytest.raises(WavError, match="wFormatTag"):
        # A-law (tag 6)
        fmt = struct.pack("<HHIIHH", 6, 1, 8000, 8000, 1, 8)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", 0))
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    with pytest.raises(WavError, match="truncated"):
        decode_wav(_stdlib_wav(_tone(100))[:-20])


def test_jvm_audiosystem_cross_check(spark):
    """Second independent ground truth: JVM javax.sound.sampled must
    report the same frame count / channels / rate for our test bytes."""
    jvm = spark.sparkContext._jvm
    data = _stdlib_wav(_tone(1234), channels=2, rate=16000, width=2)
    d = decode_wav(data)
    stream = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
        jvm.java.io.ByteArrayInputStream(data))
    jfmt = stream.getFormat()
    assert stream.getFrameLength() == d["n_frames"]
    assert jfmt.getChannels() == d["channels"]
    assert int(jfmt.getSampleRate()) == d["sample_rate"]
    assert jfmt.getSampleSizeInBits() == d["bits"]


def test_decode_media_and_audio_operator(spark):
    """Operator wiring: WAV payloads ride the real parse path in
    ``media_ahash`` (true duration, fingerprint equal to the direct
    call); a broken WAVE becomes an error row."""
    from databricks_pdf_ocr_spark.functions.audiohash import ahash64
    from databricks_pdf_ocr_spark.operators import multimodal

    tone = _tone(4000, rate=8000)
    good = _stdlib_wav(tone, rate=8000, width=2)
    rows = [("good.wav", good), ("bad.wav", b"RIFFxxxxWAVEjunk")]
    df = spark.createDataFrame(rows, "name string, content binary")

    got = {r["hash_ok"]: r for r in multimodal.media_ahash(df).collect()}
    assert got[True]["duration_ms"] == 500          # 4000 frames @ 8 kHz
    assert got[True]["phash"] == ahash64(decode_wav(good))
    assert got[False]["error_message"]
