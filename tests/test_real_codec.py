"""The REAL-codec seam of the multimodal family, exercised end-to-end.

The sandbox has no image/audio libraries, so the shipped kernels run a
deterministic fake decode — but the pluggable seam (`set_decoder` /
`set_feature_extractor`) is the production path, and until r5 nothing ever
executed the `_DECODER is not None` branch. These tests close that hole
with a genuine codec that needs no third-party library: PPM **P3** (the
ASCII variant of the Netpbm image format). P3 is real — `magic, width,
height, maxval` header plus whitespace-separated RGB samples — and being
pure ASCII it survives the document→media embedding (`attach_media`
payloads are MAGIC + utf8(text)), so the whole pipeline — JVM header
strip, Arrow batching, mapInPandas kernel — runs exactly as it would with
a PIL-backed decoder, with the codec body swapped for a ~30-line parser.

Covers: decode_features through a real decoder (checksums equal a pure
numpy recompute), malformed-image error surfacing, media_features +
media_near_dup through a real perceptual featurizer (planted near-dup
recovered, unrelated image rejected), and seam restoration (the fake
kernels return after uninstall).
"""

from __future__ import annotations

import sys

import numpy as np
import pytest
from pyspark.cloudpickle import register_pickle_by_value
from pyspark.sql import Row

from log_aggregator_spark.functions import multimodal as mm

# The codec travels to executor Python workers inside the UDF closure
# (see _decode_batch); workers can't import the tests package, so this
# module's functions must pickle BY VALUE — the same registration a real
# deployment makes for a custom codec module it doesn't install on
# workers (the alternative being --py-files).
register_pickle_by_value(sys.modules[__name__])

# --------------------------------------------------------------- the codec


def decode_p3(body: bytes) -> np.ndarray:
    """A real (if tiny) image decoder: PPM P3 → flat int64 RGB samples.
    Raises on anything malformed — a codec's error surface, which the
    kernel must propagate, not swallow."""
    toks = body.decode("ascii").split()
    if not toks or toks[0] != "P3":
        raise ValueError(f"not a P3 image: magic={toks[:1]}")
    w, h, maxval = int(toks[1]), int(toks[2]), int(toks[3])
    px = np.array(toks[4:], dtype=np.int64)
    if px.size != 3 * w * h:
        raise ValueError(f"P3 sample count {px.size} != 3*{w}*{h}")
    if px.size and (px.min() < 0 or px.max() > maxval):
        raise ValueError("P3 sample out of range")
    return px


def p3_text(pixels: np.ndarray, w: int, h: int) -> str:
    """Encode flat RGB samples as a P3 document body."""
    return f"P3 {w} {h} 255 " + " ".join(str(int(p)) for p in pixels)


def p3_histogram(body: bytes) -> np.ndarray:
    """A real perceptual featurizer over decoded pixels: 256-bin sample
    histogram, centered like the fake featurizer so independent images are
    near-orthogonal while an image differing in a few pixels keeps
    cosine ≈ 1. Integer-valued, MM_FDIM wide — the documented contract."""
    px = decode_p3(body)
    hist = np.bincount(px, minlength=mm.MM_FDIM).astype(np.int64)
    return hist * mm.MM_FDIM - px.size


# ------------------------------------------------------------ the fixtures

W, H = 8, 6
N_PX = 3 * W * H


def _image(seed: int) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 256, N_PX).astype(np.int64)


@pytest.fixture(scope="module")
def p3_docs(spark):
    """Four P3 images: 0 and 1 are near-duplicates (one sample differs),
    2 is unrelated, 3 is corrupt (truncated sample list)."""
    base = _image(0)
    near = base.copy()
    near[0] = (near[0] + 1) % 256
    texts = [
        p3_text(base, W, H),
        p3_text(near, W, H),
        p3_text(_image(2), W, H),
        "P3 8 6 255 1 2 3",  # truncated: 3 samples, header says 144
    ]
    rows = [
        Row(doc_id=i, text=t, n_chars=len(t)) for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(rows), [base, near, _image(2)]


@pytest.fixture()
def real_codec():
    """Install the real decoder+featurizer for one test, ALWAYS restore the
    fake seam (other tests in the session depend on it)."""
    mm.set_decoder(decode_p3)
    mm.set_feature_extractor(p3_histogram)
    yield
    mm.set_decoder(None)
    mm.set_feature_extractor(None)


# ---------------------------------------------------------------- the tests


def test_decode_features_runs_real_decoder(spark, p3_docs, real_codec):
    docs, images = p3_docs
    got = {
        r["doc_id"]: r
        for r in mm.decode_features(docs.where("doc_id < 3")).collect()
    }
    assert set(got) == {0, 1, 2}
    for i, img in enumerate(images):
        # checksum = int(feature.sum()) over the REAL decoder's output —
        # equals the pure-numpy pixel sum, proving the codec actually ran
        # (the fake kernel would give the codepoint sum of the text, a
        # wildly different value)
        assert got[i]["checksum"] == int(img.sum())
        assert got[i]["payload_bytes"] == len(
            docs.where(f"doc_id = {i}").collect()[0]["text"].encode()
        )
    # fmt still derives JVM-side from the metadata struct, decoder or not
    assert got[0]["fmt"] == "img" and got[1]["fmt"] == "aud"


def test_malformed_image_error_propagates(spark, p3_docs, real_codec):
    """A real codec raises on a truncated image; the kernel must surface
    that as a job failure, not silently emit garbage features."""
    docs, _ = p3_docs
    with pytest.raises(Exception, match="P3 sample count"):
        mm.decode_features(docs).collect()


def test_media_near_dup_through_real_featurizer(spark, p3_docs, real_codec):
    docs, _ = p3_docs
    pairs = mm.media_near_dup(docs.where("doc_id < 3")).collect()
    # one-sample delta ⇒ histogram cosine ≈ 1 ≫ MM_TAU; the unrelated
    # image's centered histogram is near-orthogonal to both
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(0, 1)]
    assert pairs[0]["sim_x1m"] > 990_000


def test_fake_seam_restored_after_uninstall(spark, p3_docs):
    """Without an installed codec the fake kernels run: checksum is the
    codepoint sum of the text body (P3 is ASCII, so it's also exact to
    compute here) — the gate queries' semantics are untouched by the
    pluggable seam existing."""
    docs, _ = p3_docs
    one = docs.where("doc_id = 0")
    row = mm.decode_features(one).collect()[0]
    text = one.collect()[0]["text"]
    assert row["checksum"] == sum(ord(c) for c in text)


def test_media_features_reject_component_beyond_int32(spark, p3_docs):
    """media_near_dup ships feature vectors through its joins as int32: a
    featurizer component with |v| ≥ 2³¹ must fail naming its doc, not wrap
    silently into a wrong similarity."""
    docs, images = p3_docs
    near_body = p3_text(images[1], W, H).encode()

    def oversized(body: bytes) -> np.ndarray:
        v = p3_histogram(body)
        if body == near_body:
            v[0] = 2**31
        return v

    mm.set_feature_extractor(oversized)
    try:
        with pytest.raises(Exception, match=r"doc_id 1 .*2\^31"):
            mm.media_near_dup(docs.where("doc_id < 3")).collect()
    finally:
        mm.set_feature_extractor(None)
