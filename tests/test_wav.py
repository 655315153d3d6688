"""Pure-Python WAV codec + audio multimodal operators on real bytes."""

import numpy as np
import pytest

from cadastral_map_ocr_system_spark import synth
from cadastral_map_ocr_system_spark.functions.wav import (
    decode_wav,
    encode_wav,
    is_wav,
)


def test_round_trip_mono_8bit():
    s = (np.sin(np.linspace(0, 20, 500)) * 100 + 128).astype(np.uint8)
    out, rate = decode_wav(encode_wav(s, sample_rate=8000))
    assert rate == 8000
    assert out.shape == (500, 1)
    assert np.array_equal(out[:, 0], s)


def test_round_trip_stereo_16bit():
    s = np.stack(
        [np.arange(-300, 300, dtype=np.int16), np.arange(300, -300, -1, dtype=np.int16)],
        axis=1,
    )
    out, rate = decode_wav(encode_wav(s, sample_rate=44100))
    assert rate == 44100
    assert out.dtype == np.int16
    assert np.array_equal(out, s)


def test_odd_length_8bit_word_aligned():
    # odd data length forces the RIFF pad byte; decode must not absorb it
    s = np.arange(7, dtype=np.uint8)
    out, _ = decode_wav(encode_wav(s))
    assert np.array_equal(out[:, 0], s)


def test_is_wav():
    assert is_wav(encode_wav(np.zeros(4, np.uint8)))
    assert not is_wav(b"not a wav payload")
    assert not is_wav(b"RIFF\x00\x00\x00\x00JUNK")


def test_truncated_chunk_raises_value_error():
    b = encode_wav(np.zeros(64, np.int16))
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(b[:30])


def test_non_pcm_rejected():
    b = bytearray(encode_wav(np.zeros(8, np.uint8)))
    fmt_at = b.index(b"fmt ") + 8
    b[fmt_at : fmt_at + 2] = (3).to_bytes(2, "little")  # IEEE float code
    with pytest.raises(ValueError, match="format code"):
        decode_wav(bytes(b))


def test_fixture_family_decodes():
    for i in range(4):
        samples, rate = decode_wav(synth.wav_payload(f"media://wav/{i}"))
        assert samples.shape[0] > 0 and samples.shape[1] in (1, 2)
        assert 4000 <= rate < 8000


def test_audio_metadata_and_features(spark):
    from cadastral_map_ocr_system_spark.operators.multimodal import (
        audio_features,
        media_metadata,
    )

    refs = [f"media://wav/{i}" for i in range(4)]
    rows = [(r, "audio", bytearray(synth.wav_payload(r))) for r in refs]
    rows.append(("media://raw/x", "audio", bytearray(b"\x80\x70\x90\x80\x60")))
    df = spark.createDataFrame(rows, "ref string, media_type string, payload binary")

    meta = {r["ref"]: r for r in media_metadata(df).collect()}
    feats = {r["ref"]: r for r in audio_features(df).collect()}
    for r in refs:
        samples, rate = decode_wav(synth.wav_payload(r))
        assert meta[r]["n_frames"] == samples.shape[0]
        assert meta[r]["n_channels"] == samples.shape[1]
        assert meta[r]["sample_rate"] == rate
        assert meta[r]["width"] is None and meta[r]["height"] is None
        assert feats[r]["rms"] > 0
        # a sine crosses zero ~2f times per period-span; just pin > 0
        assert feats[r]["zero_crossing_rate"] > 0
    # non-WAV fallback keeps the plumbing alive
    fb = meta["media://raw/x"]
    assert fb["n_frames"] == 5 and fb["n_channels"] == 1
    assert feats["media://raw/x"]["n_frames"] == 5


def test_corrupt_wav_yields_null_row_not_task_failure(spark):
    """Per-item codec-error contract (ADVICE r4): a payload that passes
    is_wav but is truncated/non-PCM must surface as a null-metadata /
    null-feature ROW — never a ValueError out of the stage body
    that fails the whole task."""
    from cadastral_map_ocr_system_spark.operators.multimodal import (
        audio_features,
        media_metadata,
    )

    good_ref = "media://wav/0"
    good = synth.wav_payload(good_ref)
    truncated = good[:30]  # still has RIFF/WAVE magic, chunk is torn
    non_pcm = bytearray(good)
    fmt_at = non_pcm.index(b"fmt ") + 8
    non_pcm[fmt_at : fmt_at + 2] = (3).to_bytes(2, "little")
    rows = [
        (good_ref, "audio", bytearray(good)),
        ("media://wav/torn", "audio", bytearray(truncated)),
        ("media://wav/float", "audio", bytearray(bytes(non_pcm))),
    ]
    df = spark.createDataFrame(rows, "ref string, media_type string, payload binary")

    meta = {r["ref"]: r for r in media_metadata(df).collect()}
    feats = {r["ref"]: r for r in audio_features(df).collect()}
    assert len(meta) == 3 and len(feats) == 3  # no row lost to a crash
    assert meta[good_ref]["n_frames"] > 0 and feats[good_ref]["rms"] > 0
    for bad in ("media://wav/torn", "media://wav/float"):
        assert meta[bad]["n_frames"] is None
        assert meta[bad]["sample_rate"] is None
        assert meta[bad]["n_bytes"] > 0  # byte-level metadata still real
        assert feats[bad]["rms"] is None
        assert feats[bad]["zero_crossing_rate"] is None


def test_no_stubs_left_in_package():
    """VERDICT r3 'missing' #1: zero NotImplementedError in the package."""
    import pathlib

    import cadastral_map_ocr_system_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    hits = [
        p
        for p in root.rglob("*.py")
        if "NotImplementedError" in p.read_text()
    ]
    assert hits == []
