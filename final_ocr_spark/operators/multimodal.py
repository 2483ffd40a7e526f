"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, processed in Arrow-batched ``mapInPandas`` stages.

The image/audio codec libraries are NOT in this container, so the decode
kernels are stubbed two ways (clearly marked):

* real codecs (cv2/PIL/ffmpeg) are looked up behind import-guards and raise
  ``NotImplementedError`` with install guidance when absent;
* a deterministic FAKE codec handles the synthetic ``FAKEIMG``/``FAKEVID``
  payload format so the Spark-side plumbing — schema, batch shape, partition
  strategy, UDF signatures — is real and TESTED end-to-end.

Synthetic payloads:
    b"FAKEIMG <w> <h> " + raw w*h grayscale bytes
    b"FAKEVID <n_frames> <w> <h> " + n*w*h bytes (frame-major)

This mirrors how the reference treats rasters: np.ndarray in, features out
(preprocess_image ocr.py:10-43), generalized to distributed batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),      # 'image' | 'audio' | 'video'
    StructField("content", BinaryType(), True),     # opaque encoded bytes
    StructField("mime", StringType(), True),
    StructField("meta", StringType(), True),        # JSON sidecar metadata
])

IMAGE_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("mean_luma", DoubleType(), True),
    StructField("std_luma", DoubleType(), True),
    StructField("phash", LongType(), True),         # 64-bit perceptual-ish hash
    StructField("error", StringType(), True),
])

FRAME_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("frame", BinaryType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
])


def _decode_fake_image(data: bytes) -> np.ndarray:
    head, _, rest = data.partition(b" ")
    if head != b"FAKEIMG":
        raise ValueError("not a FAKEIMG payload")
    w_b, _, rest = rest.partition(b" ")
    h_b, _, pix = rest.partition(b" ")
    w, h = int(w_b), int(h_b)
    arr = np.frombuffer(pix[: w * h], dtype=np.uint8)
    if arr.size != w * h:
        raise ValueError("truncated FAKEIMG payload")
    return arr.reshape(h, w)


def decode_image(data: bytes) -> np.ndarray:
    """Decode encoded image bytes to a grayscale ndarray.

    SEAM CONTRACT (executable spec: tests/test_codec_contract.py — the same
    test file runs unchanged on a cluster where cv2 IS installed):

    * returns ``np.ndarray``, ``dtype=uint8``, ``ndim=2``, shape ``(h, w)``;
    * pure function of the input bytes — byte-identical output on repeat
      calls (no RNG, no wall clock, no global state);
    * NEVER returns ``None``: undecodable input raises (the reference's
      ``cv2.imread`` returns None on failure, ocr.py:18; this seam converts
      that to an exception so the per-row quarantine in ``image_features``
      catches it instead of poisoning downstream numpy calls);
    * a lossless encode→decode round trip is pixel-identical.

    Branches, same contract (the reference's whole scan glob —
    ``*.jpg/*.jpeg/*.png/*.tiff``, ocr2.py:569 — decodes REAL formats
    in-engine now):

    * FAKEIMG — the deterministic synthetic format (tests/fixtures);
    * PNG — stdlib-zlib codec (extract/raster.py: RFC 2083 unfiltering +
      OpenCV's exact fixed-point BT.601 grayscale for color);
    * JPEG — baseline sequential AND progressive decoder (extract/jpeg.py:
      T.81 Huffman + exact float IDCT, 4:4:4/4:2:2/4:2:0, restart markers,
      §G.2 successive approximation / spectral selection);
    * TIFF — 8-bit strip AND tile decode across the scanner-corpus
      compressions: none, LZW (early-change width schedule), Deflate
      (8/32946), PackBits, with Predictor 2, plus new-style JPEG-in-TIFF
      (compression 7 with shared JPEGTables splice) (extract/raster.py);
    * anything else (WebP, old-style JPEG-in-TIFF, G3/G4 fax, planar
      TIFF, arithmetic JPEG, ...) — cv2 when importable, else a loud
      NotImplementedError (the standard public ``cv2.imdecode`` recipe
      below runs under the same contract test where cv2 IS installed).
    """
    if data[:7] == b"FAKEIMG":
        return _decode_fake_image(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        from final_ocr_spark.extract.raster import png_decode_gray

        return png_decode_gray(data)
    if data[:2] == b"\xff\xd8":
        from final_ocr_spark.extract.jpeg import jpeg_decode
        from final_ocr_spark.extract.raster import bt601_gray

        try:
            img = jpeg_decode(data)
        except ValueError as exc:
            if "unsupported" in str(exc):
                # arithmetic/lossless/12-bit: fall through to cv2 (or
                # the loud seam) — malformed streams still raise
                img = None
            else:
                raise
        if img is not None:
            return img if img.ndim == 2 else bt601_gray(img)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        from final_ocr_spark.extract.raster import bt601_gray, tiff_decode

        try:
            img = tiff_decode(data)
        except ValueError as exc:
            if "compression" in str(exc):
                # compressed TIFF: fall through to cv2 (or the loud seam)
                img = None
            else:
                raise
        if img is not None:
            return img if img.ndim == 2 else bt601_gray(img)
    try:
        import cv2
    except ImportError:
        raise NotImplementedError(
            "cv2/PIL are not installed in this container; in-engine codecs "
            "cover PNG, baseline+progressive JPEG, strip/tiled TIFF "
            "(none/LZW/Deflate/PackBits/new-style JPEG), and the "
            "deterministic FAKEIMG test format"
        ) from None
    img = cv2.imdecode(  # pragma: no cover - cv2 absent in sandbox
        np.frombuffer(data, dtype=np.uint8), cv2.IMREAD_GRAYSCALE
    )
    if img is None:  # pragma: no cover
        raise ValueError("cv2.imdecode could not decode payload")
    return img  # pragma: no cover


def _phash64(img: np.ndarray) -> int:
    """Deterministic 64-bit average-hash: 8×8 downsample, bit = cell > mean."""
    h, w = img.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    cells = img[np.minimum(ys, h - 1)][:, np.minimum(xs, w - 1)].astype(np.float64)
    mean = cells.mean()
    bits = (cells > mean).flatten()
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def image_features(media: DataFrame) -> DataFrame:
    """media(image rows) → per-image features via mapInPandas (Arrow batches;
    decode + resize + stats inside the worker — zero per-row Python at the
    Spark layer)."""

    def _feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                rec = {"media_id": mid, "width": None, "height": None,
                       "mean_luma": None, "std_luma": None, "phash": None,
                       "error": None}
                try:
                    img = decode_image(bytes(content))
                    rec.update(
                        width=int(img.shape[1]), height=int(img.shape[0]),
                        mean_luma=float(img.mean()), std_luma=float(img.std()),
                        phash=_phash64(img),
                    )
                except Exception as exc:  # per-row quarantine
                    rec["error"] = f"{type(exc).__name__}: {exc}"[:200]
                recs.append(rec)
            yield pd.DataFrame(recs, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields])

    return media.filter("kind = 'image'").select("media_id", "content").mapInPandas(
        _feats, schema=IMAGE_FEATURES_SCHEMA
    )


PREPROCESSED_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("content", BinaryType(), True),     # processed page as PNG
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("error", StringType(), True),
])


def preprocess_images(
    media: DataFrame,
    *,
    clip_limit: float = 3.0,
    denoise_h: float = 10.0,
    threshold: str = "otsu",
    target_height: int = 2000,
    denoise: bool = True,
) -> DataFrame:
    """OCR-ready page preprocessing (reference preprocess_image,
    ocr.py:10-43 / ocr2.py:77-125): decode → CLAHE → non-local-means
    denoise → Otsu or adaptive-Gaussian threshold → conditional bicubic
    upscale, all via the pure-numpy kernels in extract/raster.py — the
    raster cascade is REAL in-sandbox, not a cv2 stub. Output rows carry
    the processed page re-encoded as PNG (stdlib codec, deterministic
    bytes) so any downstream consumer — including the reference's Tesseract
    stage on a real cluster — reads a standard format.

    ``clip_limit`` 3.0 + ``threshold='otsu'`` is ocr.py's config;
    2.0/'adaptive' is ocr2.py's (the reference files disagree — SURVEY §2
    P2 — so the engine pins the choice per call).

    Scale shape: ONE Arrow-batched mapInPandas stage over (media_id,
    content), no shuffle; per-row quarantine via the error column (decode
    or kernel failure never kills the task). NLM is the documented-heavy
    kernel (O(search²·pixels)); pass ``denoise=False`` to skip it when
    upstream pages are born digital."""

    def _prep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from final_ocr_spark.extract.raster import png_encode, preprocess_page

        for pdf in batches:
            recs = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                rec = {"media_id": mid, "content": None, "width": None,
                       "height": None, "error": None}
                try:
                    img = decode_image(bytes(content))
                    out = preprocess_page(
                        img, clip_limit=clip_limit, denoise_h=denoise_h,
                        threshold=threshold, target_height=target_height,
                        denoise=denoise,
                    )
                    rec.update(
                        content=png_encode(out),
                        width=int(out.shape[1]), height=int(out.shape[0]),
                    )
                except Exception as exc:  # per-row quarantine
                    rec["error"] = f"{type(exc).__name__}: {exc}"[:200]
                recs.append(rec)
            yield pd.DataFrame(
                recs, columns=[f.name for f in PREPROCESSED_SCHEMA.fields]
            )

    return media.filter("kind = 'image'").select("media_id", "content").mapInPandas(
        _prep, schema=PREPROCESSED_SCHEMA
    )


def sample_video_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """media(video rows) → 1-of-every-n frames as FAKEIMG payloads (UDTF
    shape: one input row → many output rows from the same batch)."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue  # null payload: no frames to contribute
                data = bytes(content)
                if data[:7] != b"FAKEVID":
                    # honest seam (decode_image/decode_audio contract):
                    # real container formats must FAIL the job loudly —
                    # a silent skip would report duplicate videos as
                    # "no near-dups found" downstream
                    raise NotImplementedError(
                        "real video decode (ffmpeg/PyAV) is not installed "
                        "in this container; only the deterministic FAKEVID "
                        "test format is supported"
                    )
                head = data.split(b" ", 4)
                n, w, h = int(head[1]), int(head[2]), int(head[3])
                pix = head[4]
                for fi in range(0, n, every_n):
                    frame = pix[fi * w * h:(fi + 1) * w * h]
                    if len(frame) < w * h:
                        break
                    recs.append({
                        "media_id": mid, "frame_idx": fi,
                        "frame": b"FAKEIMG %d %d " % (w, h) + frame,
                        "width": w, "height": h,
                    })
            yield pd.DataFrame(recs, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.filter("kind = 'video'").select("media_id", "content").mapInPandas(
        _frames, schema=FRAME_SCHEMA
    )


def gen_fake_media(spark, n: int, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table (FAKEIMG/FAKEVID payloads)."""
    import random

    def rows():
        for i in range(n):
            rng = random.Random((seed << 20) ^ i)
            if i % 5 == 4:
                nf, w, h = rng.randrange(8, 30), 16, 12
                pix = bytes(rng.randrange(256) for _ in range(nf * w * h))
                yield (i, "video", b"FAKEVID %d %d %d " % (nf, w, h) + pix,
                       "video/x-fake", '{"fps": 24}')
            else:
                w, h = rng.randrange(8, 64), rng.randrange(8, 64)
                pix = bytes(rng.randrange(256) for _ in range(w * h))
                yield (i, "image", b"FAKEIMG %d %d " % (w, h) + pix,
                       "image/x-fake", '{"camera": "synthetic"}')

    return spark.createDataFrame(list(rows()), MEDIA_SCHEMA)


def image_near_dups(
    media: DataFrame, max_hamming: int = 3, bucket_cap: int | None = 200
) -> DataFrame:
    """Perceptual image near-dup pairs (the LAION-style multimodal dedup
    step): decode → 64-bit perceptual hash (image_features' phash column)
    → pigeonhole block index (dedup.hash64_near_dups) → exact hamming
    filter. Returns (key_a, key_b, hamming) over media_id.

    ``bucket_cap`` defaults ON (200, the text path's skew guard): flat /
    blank images — routine web spam — all hash to ONE phash, and an
    uncapped (block, value) bucket self-join on 100k such rows is
    quadratic. The cap costs hash64_near_dups' recall-1.0 guarantee
    exactly on those degenerate buckets; pass ``bucket_cap=None`` for the
    guaranteed-recall contract when the corpus is known skew-free.

    Decode-failed / non-image rows are excluded (they carry no hash; the
    quarantine surface is image_features' error column). On a real cluster
    the only change is the codec behind decode_image (SEAMS.md seam #1) —
    the hash, index, and pair plan run unchanged."""
    from final_ocr_spark.operators.dedup import hash64_near_dups

    feats = image_features(media).filter(
        "error is null and phash is not null"
    )
    return hash64_near_dups(
        feats.select("media_id", "phash"),
        key="media_id", hash_col="phash", max_hamming=max_hamming,
        bucket_cap=bucket_cap,
    )


# --------------------------------------------------------------------------
# audio branch: same seam contract as images — a deterministic FAKEAUD
# codec in-sandbox (no soundfile/librosa on the index), real Spark-side
# plumbing (schema, Arrow batches, quarantine, fingerprint index) that a
# real decoder drops into unchanged (SEAMS.md seam #1).

AUDIO_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("sample_rate", IntegerType(), True),
    StructField("n_samples", LongType(), True),
    StructField("duration_s", DoubleType(), True),
    StructField("rms", DoubleType(), True),
    StructField("zero_crossings", LongType(), True),
    StructField("afp", LongType(), True),           # 64-bit spectral fingerprint
    StructField("error", StringType(), True),
])


def _decode_fake_audio(data: bytes) -> tuple[int, np.ndarray]:
    """FAKEAUD <sample_rate> <n_samples> <int16-LE samples> → (sr, wave)."""
    head, _, rest = data.partition(b" ")
    if head != b"FAKEAUD":
        raise ValueError("not a FAKEAUD payload")
    sr_b, _, rest = rest.partition(b" ")
    n_b, _, pcm = rest.partition(b" ")
    sr, n = int(sr_b), int(n_b)
    wave = np.frombuffer(pcm[: 2 * n], dtype="<i2")
    if wave.size != n:
        raise ValueError("truncated FAKEAUD payload")
    return sr, wave


def decode_audio(data: bytes) -> tuple[int, np.ndarray]:
    """Decode audio bytes → (sample_rate, int16 mono wave). FAKEAUD and
    WAV/RIFF PCM (extract/wav.py: uint8/int16/float32, any channel count,
    soundfile-identical mono downmix) decode in-engine; compressed codecs
    (MP3/AAC/OGG/FLAC) only when soundfile is importable (absent in
    sandbox — the guard mirrors decode_image's cv2 seam)."""
    if data[:8] == b"FAKEAUD ":
        return _decode_fake_audio(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        from final_ocr_spark.extract.wav import wav_decode

        return wav_decode(data)
    try:
        import io

        import soundfile  # noqa: F401
    except ImportError:
        raise NotImplementedError(
            "compressed-audio decode needs soundfile (absent in this "
            "sandbox) — in-engine codecs cover WAV/RIFF PCM and the "
            "deterministic FAKEAUD test format"
        ) from None
    wav, sr = soundfile.read(io.BytesIO(data), dtype="int16")  # pragma: no cover
    if wav.ndim > 1:  # pragma: no cover - downmix to mono
        wav = wav.mean(axis=1).astype(np.int16)
    return int(sr), wav  # pragma: no cover


def _afp64(wave: np.ndarray) -> int:
    """Deterministic 64-bit spectral fingerprint: 8 time frames × 8 rFFT
    magnitude bands, bit = band energy above its frame's median — gain
    changes scale every band AND the median, so the code is amplitude-
    invariant; small noise flips few bits (locality for the hamming
    index)."""
    bits = []
    for fr in np.array_split(wave.astype(np.float64), 8):
        if fr.size:
            mag = np.abs(np.fft.rfft(fr))
            spec = np.array([b.sum() for b in np.array_split(mag, 8)])
        else:
            spec = np.zeros(8)
        med = np.median(spec)
        bits.extend(1 if e > med else 0 for e in spec)
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_features(media: DataFrame) -> DataFrame:
    """media(audio rows) → per-clip features + 64-bit fingerprint via
    mapInPandas (Arrow batches, per-row quarantine — the image_features
    contract on the audio branch)."""

    def _feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                rec = {"media_id": mid, "sample_rate": None, "n_samples": None,
                       "duration_s": None, "rms": None, "zero_crossings": None,
                       "afp": None, "error": None}
                try:
                    sr, wave = decode_audio(bytes(content))
                    w = wave.astype(np.float64)
                    rec.update(
                        sample_rate=sr, n_samples=int(wave.size),
                        duration_s=float(wave.size / sr) if sr else None,
                        rms=float(np.sqrt(np.mean(w * w))) if wave.size else 0.0,
                        zero_crossings=int(np.count_nonzero(
                            np.diff(np.signbit(w)))) if wave.size else 0,
                        afp=_afp64(wave),
                    )
                except Exception as exc:  # per-row quarantine
                    rec["error"] = f"{type(exc).__name__}: {exc}"[:200]
                recs.append(rec)
            yield pd.DataFrame(
                recs, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    return media.filter("kind = 'audio'").select("media_id", "content").mapInPandas(
        _feats, schema=AUDIO_FEATURES_SCHEMA
    )


def audio_near_dups(
    media: DataFrame, max_hamming: int = 3, bucket_cap: int | None = 200
) -> DataFrame:
    """Perceptual audio near-dup pairs: decode → spectral fingerprint →
    the same pigeonhole index the image path uses. ``bucket_cap``
    defaults ON (200) for the same reason as :func:`image_near_dups` —
    silent/constant-tone audio spam collapses to one fingerprint and an
    uncapped bucket self-join goes quadratic; pass ``bucket_cap=None``
    for the recall-1.0 guarantee on skew-free corpora."""
    from final_ocr_spark.operators.dedup import hash64_near_dups

    feats = audio_features(media).filter("error is null and afp is not null")
    return hash64_near_dups(
        feats.select("media_id", "afp"),
        key="media_id", hash_col="afp", max_hamming=max_hamming,
        bucket_cap=bucket_cap,
    )


def gen_fake_audio(spark, n: int, seed: int = 42) -> DataFrame:
    """Deterministic synthetic audio table (FAKEAUD payloads): mixed sine
    tones + small seeded noise, MEDIA_SCHEMA shape. Separate from
    gen_fake_media, whose exact row set is pinned by committed goldens."""
    import random

    def rows():
        for i in range(n):
            rng = random.Random((seed << 21) ^ i)
            sr = 8000
            dur = rng.randrange(400, 1600)
            t = np.arange(dur, dtype=np.float64)
            # tones spread across the spectrum (up to near Nyquist): very
            # low frequencies would park every clip's energy in rFFT band
            # 0-1 and collapse all fingerprints together (measured: 38% of
            # random clip pairs within hamming 3)
            f1 = rng.randrange(50, 1000)
            f2 = rng.randrange(1000, 3900)
            wave = (
                6000 * np.sin(2 * np.pi * f1 * t / sr)
                + 3000 * np.sin(2 * np.pi * f2 * t / sr)
            )
            noise = np.array([rng.uniform(-150, 150) for _ in range(dur)])
            pcm = (wave + noise).astype("<i2")
            yield (i, "audio", b"FAKEAUD %d %d " % (sr, dur) + pcm.tobytes(),
                   "audio/x-fake", '{"mic": "synthetic"}')

    return spark.createDataFrame(list(rows()), MEDIA_SCHEMA)


FRAME_HASH_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("phash", LongType(), True),
])


def frame_hashes(media: DataFrame, every_n: int = 5) -> DataFrame:
    """video rows → (media_id, frame_idx, phash): sampled frames decoded
    and perceptually hashed in one Arrow stage — the element set for
    frame-set video similarity."""

    def _hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, fi, frame in zip(
                pdf["media_id"], pdf["frame_idx"], pdf["frame"]
            ):
                try:
                    ph = _phash64(decode_image(bytes(frame)))
                except Exception:
                    ph = None  # sampled-out/corrupt frame: no element
                recs.append({"media_id": mid, "frame_idx": fi, "phash": ph})
            yield pd.DataFrame(
                recs, columns=[f.name for f in FRAME_HASH_SCHEMA.fields]
            )

    return sample_video_frames(media, every_n).mapInPandas(
        _hashes, schema=FRAME_HASH_SCHEMA
    )


def video_near_dups(
    media: DataFrame,
    every_n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Video near-dup pairs by FRAME-SET MinHash: two videos are near-dups
    when the Jaccard similarity of their sampled-frame perceptual-hash
    SETS clears the threshold — robust to trims, truncations, and
    re-containering, which a whole-file hash never survives. Pure
    composition of existing pieces: sample frames → per-frame phash (one
    Arrow stage) → classic MinHash over the (video, frame-hash) element
    rows (dedup.minhash_sigs_from_rows — the text path's exact sketch) →
    the shared LSH band self-join with its degenerate-bucket skew cap.
    Returns (key_a, key_b, est_jaccard) over media_id.

    Scale shape inherits the text pipeline's: frame payloads never
    shuffle (only slim (video, hash) rows reach the sketch agg), the band
    join is bucketed never all-pairs, and recall at the threshold follows
    the standard (bands, rows-per-band) S-curve (defaults: 1-(1-j⁴)⁸)."""
    from final_ocr_spark.operators.dedup import (
        _rows_per_band,
        _sig_near_dup_pairs,
        minhash_sigs_from_rows,
    )

    rows = frame_hashes(media, every_n).filter("phash is not null").select(
        F.col("media_id").alias("k"), F.col("phash").alias("h")
    )
    sigs = minhash_sigs_from_rows(rows, num_hashes=num_hashes).localCheckpoint(
        eager=False  # consumed by banding AND the agreement estimator
    )
    return _sig_near_dup_pairs(
        sigs, bands, _rows_per_band(num_hashes, bands), num_hashes,
        jaccard_threshold,
    )
