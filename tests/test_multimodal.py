import pytest

from medical_and_charity_document_extraction_system_spark.operators.multimodal import (
    attach_fake_media,
    deterministic_features,
    extract_media_features,
    FEATURE_DIM,
)

from .conftest import SF_SMALL


def test_feature_plumbing_end_to_end(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(50)
    media = attach_fake_media(docs)
    feats = extract_media_features(media).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r.features) == FEATURE_DIM
        assert all(0.0 <= x < 1.0 for x in r.features)
        assert r.n_bytes > 0
        assert r.kind in ("image", "audio", "video")


def test_features_deterministic():
    a = deterministic_features(b"payload-123")
    b = deterministic_features(b"payload-123")
    c = deterministic_features(b"payload-124")
    assert a == b != c


def test_resize_pixels_match_numpy_oracle(spark):
    """Distributed resize output equals the same nearest-neighbor
    resample computed locally — pixel-exact."""
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.functions import netpbm
    from medical_and_charity_document_extraction_system_spark.operators.multimodal import (
        attach_page_images,
        render_page_image,
        resize_images,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(20)
    out = {r.media_id: r for r in resize_images(
        attach_page_images(docs), height=40, width=60
    ).collect()}
    assert len(out) == 20
    for mid, r in out.items():
        assert r.error is None and (r.height, r.width) == (40, 60)
        img = render_page_image(int(mid))
        ys = ((np.arange(40) + 0.5) * img.shape[0] / 40).astype(int)
        xs = ((np.arange(60) + 0.5) * img.shape[1] / 60).astype(int)
        exp = img[np.clip(ys, 0, img.shape[0] - 1)][:, np.clip(xs, 0, img.shape[1] - 1)]
        assert np.array_equal(netpbm.decode(bytes(r.image)), exp)


def test_resize_degrades_on_bad_payload(spark):
    from medical_and_charity_document_extraction_system_spark.operators.multimodal import (
        resize_images,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"not an image"))], "media_id long, payload binary"
    )
    r = resize_images(df, height=8, width=8).collect()[0]
    assert r.image is None and r.error is not None


def test_png_fed_preprocess_matches_netpbm_fed(spark):
    """Same pixels in a PNG container must produce byte-identical
    preprocessing results (dims, skew, steps) and pixel-identical
    output images — and the output container follows the input."""
    from medical_and_charity_document_extraction_system_spark.functions import imageio
    from medical_and_charity_document_extraction_system_spark.operators.multimodal import (
        attach_page_images,
    )
    from medical_and_charity_document_extraction_system_spark.operators.preprocess import (
        preprocess_images,
    )

    docs = spark.range(12).withColumnRenamed("id", "doc_id")
    out_pgm = {
        r.media_id: r
        for r in preprocess_images(attach_page_images(docs)).collect()
    }
    out_png = {
        r.media_id: r
        for r in preprocess_images(attach_page_images(docs, codec="png")).collect()
    }
    assert set(out_pgm) == set(out_png) == set(range(12))
    for mid in out_pgm:
        a, b = out_pgm[mid], out_png[mid]
        assert (a.width, a.height, a.skew_angle, a.error) == (
            b.width, b.height, b.skew_angle, b.error,
        )
        img_a, fmt_a = imageio.decode_auto(bytes(a.image))
        img_b, fmt_b = imageio.decode_auto(bytes(b.image))
        assert fmt_a == "netpbm" and fmt_b == "png"
        assert (img_a == img_b).all()


def test_resize_accepts_png_and_answers_png(spark):
    from medical_and_charity_document_extraction_system_spark.functions import imageio
    from medical_and_charity_document_extraction_system_spark.operators.multimodal import (
        attach_page_images,
        resize_images,
    )

    docs = spark.range(4).withColumnRenamed("id", "doc_id")
    out = resize_images(
        attach_page_images(docs, codec="png"), height=32, width=48
    ).collect()
    assert all(r.error is None for r in out)
    for r in out:
        img, fmt = imageio.decode_auto(bytes(r.image))
        assert fmt == "png" and img.shape == (32, 48)


def test_decode_image_handles_png_netpbm_jpeg_and_gates_rest():
    """imageio.decode_auto is the one image decoder every stage uses."""
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.functions import (
        imageio,
        jpeg,
        netpbm,
        png,
    )
    from medical_and_charity_document_extraction_system_spark.functions import webp as _webp

    def decode(payload):
        return imageio.decode_auto(payload)[0]

    arr = (np.arange(48, dtype=np.uint8).reshape(6, 8) * 5) % 256
    assert (decode(png.encode_png(arr)) == arr).all()
    assert (decode(netpbm.encode(arr)) == arr).all()
    out = decode(jpeg.encode_jpeg(arr, quality=95))
    assert out.shape == arr.shape  # lossy but real decode
    with pytest.raises(jpeg.JpegError):
        decode(b"\xff\xd8\xff\xe0fakejpeg")  # damaged JPEG
    with pytest.raises(_webp.WebpError):
        decode(b"RIFF....WEBP")  # recognized container, no VP8L chunk
    assert (decode(_webp.encode_webp(arr))[:, :, 0] == arr).all()
    with pytest.raises(ValueError, match="unrecognized image container"):
        decode(b"II\x00\x00 not any container")  # truly unknown


def test_decode_is_clearly_stubbed():
    """A payload that only looks like PNG (no full signature) is refused
    with a clear error rather than decoded to garbage."""
    from medical_and_charity_document_extraction_system_spark.functions import imageio

    with pytest.raises(ValueError, match="unrecognized image container"):
        imageio.decode_auto(b"\x89PNG fake")

