"""Audio codec round-trip invariants (BASELINE.json input_hint):
decoded-PCM allclose with SNR >= 30 dB + transcript byte equality."""

import numpy as np
import pytest

from engine.audio import (
    decode_payload,
    decode_ulaw,
    decode_wav_pcm16,
    encode_ulaw,
    encode_wav_pcm16,
    extract_audio_features,
    snr_db,
)
from engine.synth import make_clips_pdf


def _sine(sr=16000, dur_s=0.25, f=440.0, amp=0.5, seed=0):
    rng = np.random.default_rng(seed)
    t = np.arange(int(sr * dur_s)) / sr
    return amp * np.sin(2 * np.pi * f * t) + 0.005 * rng.standard_normal(t.size)


def test_wav_roundtrip_snr():
    sig = _sine()
    buf = encode_wav_pcm16(sig, 16000)
    dec, sr = decode_wav_pcm16(buf)
    assert sr == 16000
    assert dec.shape == sig.shape
    assert snr_db(sig, dec) >= 30.0
    # PCM16 quantization is tiny: allclose at 1e-3 absolute
    assert np.allclose(sig, dec, atol=2e-4)


def test_ulaw_roundtrip_snr():
    sig = _sine(amp=0.4)
    dec = decode_ulaw(encode_ulaw(sig))
    assert snr_db(sig, dec) >= 30.0


def test_unknown_codec_raises():
    with pytest.raises(NotImplementedError):
        decode_payload(b"xxxx", "opus", 16000)


def test_synth_clips_deterministic_and_decodable():
    a = make_clips_pdf(50, seed=42)
    b = make_clips_pdf(50, seed=42)
    assert a["clip_id"].tolist() == b["clip_id"].tolist()
    assert all(x == y for x, y in zip(a["bytes"], b["bytes"]))
    assert a["transcript"].tolist() == b["transcript"].tolist()
    for _, row in a.head(10).iterrows():
        dec = decode_payload(row["bytes"], row["codec"], row["sr_hz"])
        n_expected = int(row["sr_hz"] * row["dur_ms"] / 1000)
        assert dec.size == n_expected
        assert np.max(np.abs(dec)) <= 1.0


def test_extract_audio_features_spark(spark, clips_df):
    feats = extract_audio_features(clips_df.limit(64)).toPandas()
    assert set(
        ["n_samples", "rms", "peak", "zcr", "decoded_dur_ms", "clipped_frac"]
    ) <= set(feats.columns)
    # transcript passes through byte-identical
    src = clips_df.limit(64).select("clip_id", "transcript").toPandas()
    merged = src.merge(feats[["clip_id", "transcript"]], on="clip_id", suffixes=("_a", "_b"))
    assert (merged["transcript_a"] == merged["transcript_b"]).all()
    assert (feats["rms"] > 0).all()
    np.testing.assert_allclose(
        feats["decoded_dur_ms"], feats["n_samples"] * 1000.0 / feats["sr_hz"], rtol=1e-9
    )


def test_spectral_features_sine_centroid():
    from engine.audio import _spectral_one

    sig = _sine(sr=16000, dur_s=0.5, f=440.0, amp=0.6, seed=3)
    (centroid_mean, centroid_std, bw_mean, rolloff_mean, flat_mean, e_std,
     bands) = _spectral_one(sig, 16000)
    # a near-pure 440 Hz tone: centroid and rolloff sit near 440 Hz
    assert 350 < centroid_mean < 550
    assert 350 < rolloff_mean < 600
    assert bw_mean < 400
    assert 0.0 <= flat_mean < 0.05  # tonal, far from white noise
    assert len(bands) == 8
    # white noise: centroid near sr/4, flatness much higher
    rng = np.random.default_rng(0)
    noise = 0.5 * rng.standard_normal(8000)
    (nc, _, _, _, nflat, _, _) = _spectral_one(noise, 16000)
    assert 3000 < nc < 5000
    assert nflat > 0.3


def test_spectral_features_spark(spark, clips_df):
    out = extract_audio_features(clips_df.limit(50), spectral=True)
    pdf = out.toPandas()
    assert {"centroid_mean", "band_energies", "rms"} <= set(pdf.columns)
    assert (pdf["centroid_mean"] > 0).all()
    assert pdf["band_energies"].map(len).eq(8).all()


def test_payload_direct_matches_in_jvm(spark, tmp_path):
    """extract_audio_features_direct (bytes read straight from parquet in the
    Python stage) must produce byte-identical features to the JVM-scan path."""
    from engine.audio import extract_audio_features, extract_audio_features_direct
    from engine.streams import write_clips_iceberg

    df = write_clips_iceberg(str(tmp_path / "clips"), 300, n_files=3,
                             seed=5).read(spark)
    a = extract_audio_features(df, spectral=True).drop("band_energies").toPandas()
    b = extract_audio_features_direct(df, spectral=True).drop("band_energies").toPandas()
    a = a.sort_values("clip_id", ignore_index=True)
    b = b.sort_values("clip_id", ignore_index=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)


def test_parallel_producer_deterministic(tmp_path):
    """Same (seed, sharding) → identical files regardless of parallelism."""
    import hashlib

    from engine.streams import write_clips_iceberg

    d1 = write_clips_iceberg(str(tmp_path / "p1"), 400, n_files=4, seed=9,
                             parallelism=1).data_dir
    d2 = write_clips_iceberg(str(tmp_path / "p2"), 400, n_files=4, seed=9,
                             parallelism=4).data_dir
    import os

    assert len(os.listdir(d1)) == 4
    for f in sorted(os.listdir(d1)):
        h1 = hashlib.sha256(open(os.path.join(d1, f), "rb").read()).hexdigest()
        h2 = hashlib.sha256(open(os.path.join(d2, f), "rb").read()).hexdigest()
        assert h1 == h2, f


def test_speech_features_pitch_and_mel(spark):
    """Mel/MFCC/pitch extraction verified against known sines: f0 within a
    few percent of the tone, mel energy peaking in the right band, silence
    gating, and Spark/mapInPandas parity with the pure-numpy path."""
    import numpy as np
    import pandas as pd

    from engine.audio import (
        _speech_one,
        encode_wav_pcm16,
        extract_speech_features,
    )

    sr = 16000
    t = np.arange(int(0.6 * sr)) / sr
    clips = {
        "tone220": 0.5 * np.sin(2 * np.pi * 220 * t),
        "tone330": 0.5 * np.sin(2 * np.pi * 330 * t),
        "silence": np.zeros(int(0.3 * sr)),
    }
    pdf = pd.DataFrame(
        {
            "clip_id": list(clips),
            "bytes": [encode_wav_pcm16(x, sr) for x in clips.values()],
            "codec": ["pcm_s16le"] * 3,
            "sr_hz": [sr] * 3,
        }
    )
    out = (
        extract_speech_features(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("clip_id")
    )
    assert abs(out.loc["tone220", "f0_hz"] - 220) < 15
    assert abs(out.loc["tone330", "f0_hz"] - 330) < 20
    assert out.loc["silence", "f0_hz"] == 0.0
    assert len(out.loc["tone220", "mfcc_mean"]) == 13
    assert len(out.loc["tone220", "logmel_mean"]) == 26
    # Spark path equals the pure-numpy path bit-for-bit
    want = _speech_one(clips["tone220"].astype(np.float64), sr)
    got_direct = _speech_one(
        __import__("engine.audio", fromlist=["decode_payload"]).decode_payload(
            pdf["bytes"][0], "pcm_s16le", sr
        ),
        sr,
    )
    assert abs(out.loc["tone220", "f0_hz"] - got_direct[3]) < 1e-9
    np.testing.assert_allclose(
        np.asarray(list(out.loc["tone220", "mfcc_mean"])), got_direct[1], rtol=1e-12
    )


def test_alaw_roundtrip_snr():
    """A-law companding (G.711 twin of ulaw): decode∘encode SNR ≥ 30 dB on a
    speech-band tone, sign symmetry, silence maps to silence."""
    from engine.audio import decode_alaw, encode_alaw, snr_db

    t = np.arange(16000) / 16000.0
    x = 0.7 * np.sin(2 * np.pi * 440.0 * t)
    y = decode_alaw(encode_alaw(x))
    assert snr_db(x, y) >= 30.0
    # sign symmetry up to the 8-bit quantizer's rounding asymmetry
    assert np.allclose(decode_alaw(encode_alaw(-x)), -y, atol=2e-2)
    z = decode_alaw(encode_alaw(np.zeros(100)))
    assert np.max(np.abs(z)) < 0.01


def test_ima_adpcm_roundtrip_snr():
    """IMA ADPCM (DVI4 step tables): 4-bit adaptive codec reaches ≥ 20 dB on
    a tone (spec-typical), decodes 2 samples/byte, and the dispatch path
    serves it."""
    from engine.audio import (
        decode_ima_adpcm,
        decode_payload,
        encode_ima_adpcm,
        snr_db,
    )

    t = np.arange(8000) / 16000.0
    x = 0.5 * np.sin(2 * np.pi * 300.0 * t)
    enc = encode_ima_adpcm(x)
    assert len(enc) == 4 + len(x) // 2  # count header + 4 bits/sample
    y = decode_ima_adpcm(enc)
    assert len(y) == len(x)
    assert snr_db(x, y) >= 20.0
    via_dispatch = decode_payload(enc, "ima_adpcm", 16000)
    assert np.array_equal(y, via_dispatch)
    # ODD lengths round-trip exactly (r3 review fix: the 4-byte sample-count
    # header trims the padding nibble's phantom sample)
    xo = x[:4001]
    yo = decode_ima_adpcm(encode_ima_adpcm(xo))
    assert len(yo) == 4001
    assert snr_db(xo, yo) >= 20.0
    # unknown codecs still stub loudly
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_payload(b"", "mp3", 16000)


# ---------------------------------------------------------------------------
# FLAC (lib-free codec, engine/flac.py)
# ---------------------------------------------------------------------------


def test_flac_lossless_roundtrip_all_modes():
    """FLAC is lossless: decode(encode(x)) == x exactly, in mono, every
    stereo decorrelation mode, multi-frame streams with a short last block,
    and the LPC subframe path."""
    from engine.flac import decode_flac, encode_flac

    rng = np.random.default_rng(3)
    sig = (
        18000 * np.sin(2 * np.pi * 440 * np.arange(10_000) / 16000)
        + rng.normal(0, 250, 10_000)
    ).astype(np.int16)
    ch, sr, bps = decode_flac(encode_flac(sig, 16000))
    assert (sr, bps) == (16000, 16)
    assert np.array_equal(ch[0], sig.astype(np.int32))

    l = (12000 * np.sin(2 * np.pi * 330 * np.arange(9000) / 44100)).astype(np.int16)
    r = (l * 0.6 + rng.normal(0, 180, 9000)).astype(np.int16)
    st = np.stack([l, r])
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        ch, _, _ = decode_flac(encode_flac(st, 44100, stereo_mode=mode))
        assert np.array_equal(ch, st.astype(np.int32)), mode

    ch, _, _ = decode_flac(encode_flac(sig, 16000, force_lpc=True))
    assert np.array_equal(ch[0], sig.astype(np.int32))

    # constant subframe + compression sanity (a tone must beat raw PCM)
    const = np.full(5000, -123, dtype=np.int16)
    buf = encode_flac(const, 8000)
    assert len(buf) < 200
    tone = encode_flac(sig, 16000)
    assert len(tone) < 2 * len(sig)


def test_flac_crc_rejects_corruption():
    from engine.flac import decode_flac, encode_flac

    sig = (1000 * np.sin(np.arange(4000))).astype(np.int16)
    buf = bytearray(encode_flac(sig, 8000))
    buf[-30] ^= 0xFF
    with pytest.raises(ValueError):
        decode_flac(bytes(buf))


def test_flac_escape_partition_decodes():
    """Rice escape-to-raw partitions (param 0b1111 → 5-bit raw width)."""
    from engine.flac import _BitReader, _BitWriter, _read_residual

    vals = [-40, 3, 17, -1, 0, 63, -64]
    bw = _BitWriter()
    bw.write(0, 2)    # method 0 (4-bit rice)
    bw.write(0, 4)    # partition order 0
    bw.write(15, 4)   # escape
    bw.write(7, 5)    # raw width 7 bits
    for v in vals:
        bw.write(v, 7)
    bw.align()
    out = _read_residual(_BitReader(bw.getvalue()), len(vals), 0)
    assert out.tolist() == vals


def test_flac_float_parity_with_pcm():
    """The same float signal encoded to PCM16-WAV and to FLAC decodes to
    bit-identical floats (shared ±32767 quantization convention)."""
    from engine.audio import decode_payload, encode_wav_pcm16
    from engine.flac import encode_flac_float

    t = np.arange(6000) / 16000.0
    x = 0.6 * np.sin(2 * np.pi * 250.0 * t) + 0.05 * np.sin(2 * np.pi * 2000.0 * t)
    via_pcm = decode_payload(encode_wav_pcm16(x, 16000), "pcm_s16le", 16000)
    via_flac = decode_payload(encode_flac_float(x, 16000), "flac", 16000)
    assert np.array_equal(via_pcm, via_flac)


def test_flac_clips_flow_through_pipeline(spark):
    """Clips synthesized with codec='flac' decode inside the Arrow-batched
    feature stage exactly like their PCM twins."""
    from engine.audio import extract_audio_features
    from engine.synth import make_clips_pdf

    pdf = make_clips_pdf(120, seed=5, flac_frac=0.5)
    assert (pdf["codec"] == "flac").sum() > 10  # the mix actually happened
    df = spark.createDataFrame(pdf)
    feats = extract_audio_features(df).toPandas()
    assert len(feats) == 120
    flac_rows = feats[pdf["codec"].values == "flac"]
    assert (flac_rows["n_samples"] > 0).all()
    assert (flac_rows["rms"] > 0.01).all()
    # flac_frac=0 (default) keeps the legacy fixture byte-identical
    a = make_clips_pdf(50, seed=42)
    b = make_clips_pdf(50, seed=42, flac_frac=0.0)
    assert a["bytes"].equals(b["bytes"]) and list(a["codec"]) == list(b["codec"])
