"""Perceptual audio fingerprint (audio's pHash tier): the 56-bit
banded-energy sign hash of media_codecs.audio_phash56 — robustness to
the transforms that defeat the exact-tier PCM md5 (uniform gain, LSB
dither, mono folds), discrimination across content, fail-closed decode,
and numpy/pure-python parity. Mirrors TestImageAhash's discipline for
the image tiers."""

import itertools

import numpy as np
import pytest

from hds_functions_spark.operators.media_codecs import (
    audio_phash56,
    audio_phash56_from_pcm,
    synthesize_wav,
    synthesize_wav_tones,
    wav_pcm_data,
    wav_wrap_pcm,
)

SEEDS = [f"clip-{i}" for i in range(30)]


def hamming(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def reencode(payload: bytes, gain: float, dither: bool = True) -> bytes:
    """A lossy re-encode: uniform gain + deterministic +/-1-LSB dither —
    flips every bit of the exact PCM md5 while leaving the audible
    content unchanged."""
    rate, ch, data = wav_pcm_data(payload)
    s = np.frombuffer(data, dtype="<i2").astype(np.int64)
    s2 = np.round(s * gain).astype(np.int64)
    if dither:
        s2 = s2 + np.where(np.arange(len(s2)) % 2 == 0, 1, -1)
    s2 = np.clip(s2, -32768, 32767)
    return wav_wrap_pcm(rate, ch, s2.astype("<i2").tobytes())


def test_deterministic_and_discriminative():
    hashes = {}
    for seed in SEEDS:
        p = synthesize_wav_tones(seed)
        r = audio_phash56(p)
        assert r == audio_phash56(p)
        hashes[seed] = r[3]
    assert len(set(hashes.values())) == len(SEEDS)
    # different content must be FAR apart, else near-dup matching is noise
    dists = [
        hamming(a, b)
        for a, b in itertools.combinations(hashes.values(), 2)
    ]
    assert min(dists) >= 5
    assert sorted(dists)[len(dists) // 2] >= 18  # median near 28 = random


@pytest.mark.parametrize("gain", [0.9, 0.5, 1.1])
def test_reencode_robustness(gain):
    """The planted re-encoded duplicate: gain + dither defeats the
    exact tier (pcm md5 differs) but the perceptual hash stays within
    a tight Hamming ball — the property the verdict asked pinned."""
    for seed in SEEDS[:10]:
        p1 = synthesize_wav_tones(seed)
        p2 = reencode(p1, gain)
        assert wav_pcm_data(p1)[2] != wav_pcm_data(p2)[2]  # exact tier dies
        h1, h2 = audio_phash56(p1)[3], audio_phash56(p2)[3]
        assert hamming(h1, h2) <= 4


def test_mono_fold_invariance():
    """Downmixing stereo to mono (L+R, and (L+R)//2) preserves the hash:
    the mono fold scales all band energies uniformly, and signs of the
    double-differences are scale-invariant."""
    checked = 0
    for seed in SEEDS:
        p = synthesize_wav_tones(seed)
        rate, ch, data = wav_pcm_data(p)
        if ch != 2:
            continue
        checked += 1
        s = np.frombuffer(data, dtype="<i2").astype(np.int64).reshape(-1, 2)
        summed = s.sum(axis=1)
        h0 = audio_phash56(p)[3]
        h_sum = audio_phash56(
            wav_wrap_pcm(rate, 1, np.clip(summed, -32768, 32767)
                         .astype("<i2").tobytes())
        )[3]
        h_avg = audio_phash56(
            wav_wrap_pcm(rate, 1, (summed // 2).astype("<i2").tobytes())
        )[3]
        assert h0 == h_sum
        assert hamming(h0, h_avg) <= 2  # //2 truncation is a tiny dither
    assert checked >= 5


def test_fail_closed():
    assert audio_phash56(None) is None
    assert audio_phash56(b"not a wav") is None
    assert audio_phash56(synthesize_wav_tones("x")[:30]) is None
    # fewer frames than time segments: no hash, not a crash
    tiny = wav_wrap_pcm(8000, 1, b"\x01\x00" * 5)
    assert audio_phash56(tiny) is None
    assert audio_phash56_from_pcm(0, b"\x01\x00" * 100) is None


def test_degenerate_fixture_carries_no_content():
    """Documents WHY the phash query synthesizes wav_tones, not wav: the
    constant +A/-A fixture is a single Nyquist tone with flat energy, so
    almost every double-difference is exactly zero — the hash is nearly
    empty (boundary crumbs only) and gain invariance erases amplitude,
    leaving nothing to discriminate on."""
    hashes = [audio_phash56(synthesize_wav(s))[3] for s in SEEDS[:8]]
    pops = sorted(bin(h).count("1") for h in hashes)
    assert pops[len(pops) // 2] <= 10  # vs ~28/56 set for wav_tones
    assert len(set(hashes)) < len(hashes)  # distinct content collides


def test_spark_operator_and_planted_duplicate(spark):
    """audio_phash through mapInPandas: a planted re-encoded duplicate
    lands within the Hamming ball of its leader while the corrupt row
    fails closed."""
    from pyspark.sql import functions as F

    from hds_functions_spark.operators.multimodal import audio_phash

    p1 = synthesize_wav_tones("leader")
    rows = [
        (1, bytearray(p1)),
        (2, bytearray(reencode(p1, 0.9))),
        (3, bytearray(synthesize_wav_tones("other"))),
        (4, bytearray(b"garbage")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in audio_phash(df).collect()
    }
    assert set(out) == {1, 2, 3}  # doc 4 failed closed
    assert hamming(out[1]["aphash"], out[2]["aphash"]) <= 4
    assert hamming(out[1]["aphash"], out[3]["aphash"]) >= 5
    assert out[1]["n_frames"] == wav_pcm_data(p1)[2].__len__() // 2 // (
        wav_pcm_data(p1)[1]
    )
    # grouping near-dups: equal-hash works only when the re-encode is
    # bit-stable; the banded small-Hamming path is the scale recipe
    assert audio_phash(df.filter(F.col("doc_id") < 0)).count() == 0


def test_downmix_defeats_exact_tier_not_perceptual(spark):
    """audio_downmix through Spark: the stereo leader's mono re-encode
    changes the PCM md5 (exact tier broken) but hashes IDENTICALLY
    (perceptual tier holds) — the multimodal_audio_phash_dups claim."""
    from hds_functions_spark.operators.multimodal import (
        audio_downmix,
        audio_phash,
        audio_signatures,
    )

    # find a stereo seed
    seed = next(
        s for s in (f"clip-{i}" for i in range(50))
        if wav_pcm_data(synthesize_wav_tones(s))[1] == 2
    )
    p = synthesize_wav_tones(seed)
    df = spark.createDataFrame(
        [(1, bytearray(p))], "doc_id long, payload binary"
    )
    mixed = audio_downmix(df)
    sig0 = audio_signatures(df).first()
    sig1 = audio_signatures(mixed).first()
    assert sig0["n_channels"] == 2 and sig1["n_channels"] == 1
    assert sig0["pcm_md5"] != sig1["pcm_md5"]  # exact tier dies
    h0 = audio_phash(df).first()["aphash"]
    h1 = audio_phash(mixed).first()["aphash"]
    assert h0 == h1  # perceptual tier holds exactly (clip-free fold)
    # non-WAV payloads pass through unchanged (fail open by contract)
    junk = spark.createDataFrame(
        [(2, bytearray(b"not a wav"))], "doc_id long, payload binary"
    )
    assert bytes(audio_downmix(junk).first()["payload"]) == b"not a wav"


def test_downmix_honors_custom_id_col(spark):
    """A non-default id_col must come back under ITS name, not doc_id
    (r14 fix: the output frame and schema hard-coded 'doc_id')."""
    from hds_functions_spark.operators.multimodal import (
        audio_downmix,
        synthesize_media_payloads,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(2)
    )
    df = synthesize_media_payloads(docs, "wav_tones").withColumnRenamed(
        "doc_id", "clip_id"
    )
    out = audio_downmix(df, id_col="clip_id")
    assert out.columns == ["clip_id", "payload"]
    assert {r["clip_id"] for r in out.collect()} == {
        r["clip_id"] for r in df.select("clip_id").collect()
    }
