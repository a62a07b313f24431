"""Multimodal (image/audio/video) column plumbing — training-data
pipeline extension per the build brief.

Media travel as opaque ``binary`` payloads with typed metadata; every
transform is an Arrow-batched ``mapInPandas`` so payload bytes move
columnar, never row-pickled. The decode step is STUBBED: the real
image/audio libraries are not in this container, so ``decode_media``
emits a deterministic fake (dims/duration derived from the payload
hash) behind an import-try — the Spark-side plumbing (schema, batch
shape, UDF signature, partitioning) is real and tested, and a real
decoder drops in by replacing ``_fake_decode`` only.

Reference parity: the reference stores page images as PIL/base64
(S4, document_processor.py:219-237) and visual-element crops (S5,
:239-308); its embedders are GPU torch models (M4). Here those are the
``decode_media`` seam.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, meta map<string,string>"
)
FRAME_BYTES = 256  # stub 'frame' = fixed-size byte window


def media_table(
    df: DataFrame, id_col: str, payload_col: str, kind: str
) -> DataFrame:
    """Normalize any (id, binary) frame into the engine media schema."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col(payload_col).cast("binary").alias("payload"),
        F.create_map(
            F.lit("source_col"), F.lit(payload_col)
        ).alias("meta"),
    )


def _fake_decode(payload: bytes, kind: str) -> dict:
    """Deterministic decode stub: pseudo width/height/duration from the
    md5 of the payload. Replace with PIL/ffmpeg when available."""
    h = hashlib.md5(payload or b"").digest()
    return {
        "width": 64 + h[0] % 1920,
        "height": 64 + h[1] % 1080,
        "duration_ms": int.from_bytes(h[2:4], "big") if kind in ("audio", "video") else 0,
        "ok": payload is not None and len(payload) > 0,
    }


def _real_decode(payload: bytes, kind: str) -> dict:
    """Real decoder (document_processor.py:239-308 visual path): PIL for
    images; audio/video duration would come from ffmpeg probe — until
    that library exists too, non-image kinds keep the stub fields.
    Covered by a recorded-fixture test injecting a fake PIL
    (tests/test_seams.py)."""
    import io

    import PIL.Image

    if kind == "image":
        im = PIL.Image.open(io.BytesIO(payload or b""))
        return {
            "width": im.width,
            "height": im.height,
            "duration_ms": 0,
            "ok": True,
        }
    return _fake_decode(payload, kind)


def _use_real(real: bool | None, lib: str) -> bool:
    """Seam dispatch: ``None`` auto-detects the library; an explicit
    bool PINS the branch — entries whose payloads are synthetic
    (text-derived) pass ``real=False`` so an installed decoder can
    never be handed bytes that were never real media."""
    from rag_database_spark.seams import have

    return have(lib) if real is None else bool(real)


def decode_media(media: DataFrame, real: bool | None = None) -> DataFrame:
    """Decode stage: (media_id, kind, n_bytes, width, height,
    duration_ms, ok). One Arrow batch in → one out; payload bytes never
    leave the executor. ``real=None`` auto-dispatches on library
    availability; pass ``real=False`` when the payloads are synthetic
    (text-derived fixtures) — a real decoder would reject them even
    when the library happens to be installed."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = (
            _real_decode if _use_real(real, "PIL.Image") else _fake_decode
        )
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                d = decode(payload, kind)
                rows.append(
                    (
                        mid,
                        kind,
                        len(payload or b""),
                        d["width"],
                        d["height"],
                        d["duration_ms"],
                        d["ok"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "n_bytes", "width", "height",
                    "duration_ms", "ok",
                ],
            )

    return media.mapInPandas(
        batches,
        schema=(
            "media_id long, kind string, n_bytes long, width int, "
            "height int, duration_ms long, ok boolean"
        ),
    )


def frame_sample(
    media: DataFrame, every_n: int = 4, frame_bytes: int = FRAME_BYTES
) -> DataFrame:
    """Video frame-sampling stub: emit every ``every_n``-th fixed-size
    byte window as a 'frame' row — one row in → many rows out, the real
    flatMap shape a frame extractor needs."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = payload or b""
                n_frames = max(1, len(payload) // frame_bytes)
                for fi in range(0, n_frames, every_n):
                    chunk = payload[fi * frame_bytes : (fi + 1) * frame_bytes]
                    rows.append((mid, fi, len(chunk), chunk))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["media_id", "frame_index", "n_bytes", "frame"],
                )

    return media.mapInPandas(
        batches,
        schema="media_id long, frame_index int, n_bytes long, frame binary",
    )


MAX_SIDE = 1024  # the reference clamps page images to <=1024px
# (document_processor.py:219-237)


def _resize_one(
    payload: bytes, kind: str, max_side: int, real: bool
) -> tuple:
    """(w0, h0, new_w, new_h, resized, out_payload) for one media row —
    module-level so the real-PIL branch is directly unit-testable
    (same pattern as ``_real_decode``/``_real_pixels``)."""
    im = None
    if real and kind == "image":
        import io

        import PIL.Image

        im = PIL.Image.open(io.BytesIO(payload))
        w0, h0 = im.width, im.height
    else:
        d = _fake_decode(payload, kind)
        w0, h0 = d["width"], d["height"]
    longer = max(w0, h0)
    if longer > max_side:
        # floor of 1: an extreme aspect ratio (e.g. 3000x1 banner)
        # must not round the short side to a 0-pixel dimension
        nw = max(1, w0 * max_side // longer)
        nh = max(1, h0 * max_side // longer)
    else:
        nw, nh = w0, h0
    resized = (nw, nh) != (w0, h0)
    if not resized:
        out = payload
    elif im is not None:
        out = im.resize((nw, nh)).tobytes()
    else:
        # deterministic stub 'resample': byte crop to the new pixel
        # budget
        out = payload[: nw * nh]
    return (w0, h0, nw, nh, resized, out)


def resize_media(media: DataFrame, max_side: int = MAX_SIDE,
                 real: bool | None = None) -> DataFrame:
    """Aspect-preserving resize clamp: images whose longer side exceeds
    ``max_side`` are scaled so it equals ``max_side`` (integer
    arithmetic — new_w = w·max_side // max(w, h) — so the dims are
    engine-portable and the entry is oracle-backed). Real path opens
    and resizes via PIL; behind the seam the dims come from the same
    deterministic md5 pseudo-decode as ``decode_media`` and the
    'resized' payload is a deterministic byte crop. One Arrow batch in
    → one out; payloads never leave the executor. ``real=False`` pins
    the stub for synthetic (text-derived) payloads."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        use_real = _use_real(real, "PIL.Image")
        for pdf in it:
            if pdf.empty:
                continue
            rows = [
                (mid, kind)
                + _resize_one(payload or b"", kind, max_side, use_real)
                for mid, kind, payload in zip(
                    pdf["media_id"], pdf["kind"], pdf["payload"]
                )
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "width", "height",
                    "new_width", "new_height", "resized", "payload",
                ],
            )

    return media.mapInPandas(
        batches,
        schema=(
            "media_id long, kind string, width int, height int, "
            "new_width int, new_height int, resized boolean, "
            "payload binary"
        ),
    )


DHASH_ROWS = 6
DHASH_COLS = 10  # comparisons per row; pixel-grid width = DHASH_COLS + 1
DHASH_BITS = DHASH_ROWS * DHASH_COLS  # 60 — fits a signed long, and
# divides into the (d+1)-block Hamming banding for d = 2, 4, 5, 9, ...


def _fake_pixels(payload: bytes, n_cells: int) -> list[int]:
    """Deterministic pseudo-grayscale grid: the payload is split into
    ``n_cells`` length-scaled byte windows and each cell is the first
    md5 byte of its window — LOCALITY-SENSITIVE like a real downscale
    (docs sharing most bytes share most windows, so near-dup payloads
    get near-equal grids) and exactly reproducible in SQL
    (md5(substr(text, ...))), which is what makes the entry
    oracle-backed. Replaced wholesale by PIL when present."""
    w = (len(payload) + n_cells - 1) // n_cells
    return [
        int(
            hashlib.md5(payload[i * w : i * w + w]).hexdigest()[:2], 16
        )
        for i in range(n_cells)
    ]


def _real_pixels(payload: bytes, n_rows: int, n_cols: int) -> list[int]:
    """Real dHash front end: grayscale + downscale via PIL (the
    reference stores page images as PIL/base64,
    metadata_store.py:315-357); row-major pixel list."""
    import io

    import PIL.Image

    im = (
        PIL.Image.open(io.BytesIO(payload or b""))
        .convert("L")
        .resize((n_cols, n_rows))
    )
    return list(im.getdata())


def image_dhash(media: DataFrame, real: bool | None = None) -> DataFrame:
    """Perceptual difference-hash fingerprint per media row: compare
    horizontally adjacent cells of a ``DHASH_ROWS``×``DHASH_COLS+1``
    grayscale grid — bit r·10+c is set iff cell (r, c+1) > cell (r, c)
    — giving a 60-bit fingerprint whose Hamming distance tracks visual
    similarity. The comparison math is the real dHash; only pixel
    acquisition sits behind the PIL seam (``_fake_pixels`` otherwise,
    deterministic and oracle-reproducible). One Arrow batch in → one
    out; payload bytes never leave the executor.

    Near-dup pairs come from ``dedup.simhash_pairs`` over this
    fingerprint — the same pigeonhole block-banded join, never
    all-pairs. ``real=False`` pins the stub for synthetic payloads."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        use_real = _use_real(real, "PIL.Image")
        n_rows, n_cols = DHASH_ROWS, DHASH_COLS + 1
        for pdf in it:
            if pdf.empty:
                continue
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = payload or b""
                px = (
                    _real_pixels(payload, n_rows, n_cols)
                    if use_real
                    else _fake_pixels(payload, n_rows * n_cols)
                )
                fp = 0
                for r in range(n_rows):
                    for c in range(DHASH_COLS):
                        if px[r * n_cols + c + 1] > px[r * n_cols + c]:
                            fp |= 1 << (r * DHASH_COLS + c)
                out.append((mid, fp))
            yield pd.DataFrame(out, columns=["media_id", "dhash"])

    return media.mapInPandas(batches, schema="media_id long, dhash long")


AUDIO_FP_FRAMES = 61  # 60 energy-delta bits (1 per adjacent pair)


def _fake_frame_energies(payload: bytes, n: int) -> list[float]:
    """Deterministic stand-in frame-energy sequence: first md5 byte of
    each of ``n`` length-scaled payload windows — locality-sensitive
    (shared payload spans share energies) and SQL-reproducible, same
    construction as the dHash pixel stub."""
    w = (len(payload) + n - 1) // n
    return [
        float(
            int(hashlib.md5(payload[i * w : i * w + w]).hexdigest()[:2], 16)
        )
        for i in range(n)
    ]


def _real_frame_energies(payload: bytes, n: int) -> list[float]:
    """Real audio front end behind the soundfile seam: decode to PCM,
    mono-mix, RMS energy per length-scaled frame — the band-energy
    sequence a Haitsma-Kalker-style fingerprint differentiates."""
    import io

    import numpy as np
    import soundfile as sf

    data, _sr = sf.read(io.BytesIO(payload))
    data = np.asarray(data, dtype="float64")
    if data.ndim > 1:
        data = data.mean(axis=1)
    w = max(1, (len(data) + n - 1) // n)
    out = []
    for i in range(n):
        fr = data[i * w : i * w + w]
        out.append(float(np.sqrt((fr ** 2).mean())) if fr.size else 0.0)
    return out


def audio_fingerprint(media: DataFrame,
                      real: bool | None = None) -> DataFrame:
    """60-bit audio fingerprint: bit i is set iff frame i+1's energy
    exceeds frame i's — the energy-DELTA sign sequence of
    Haitsma-Kalker ('02) fingerprinting (robust to volume scaling,
    which shifts all energies but preserves deltas). The delta math is
    real; only energy acquisition sits behind the soundfile seam
    (``_fake_frame_energies`` otherwise, deterministic and
    oracle-reproducible). Near-dup pairs come from
    ``dedup.simhash_pairs`` over this fingerprint — the pigeonhole
    block-banded join, never all-pairs. ``real=False`` pins the stub
    for synthetic payloads."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        use_real = _use_real(real, "soundfile")
        for pdf in it:
            if pdf.empty:
                continue
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = payload or b""
                e = (
                    _real_frame_energies(payload, AUDIO_FP_FRAMES)
                    if use_real
                    else _fake_frame_energies(payload, AUDIO_FP_FRAMES)
                )
                fp = 0
                for i in range(AUDIO_FP_FRAMES - 1):
                    if e[i + 1] > e[i]:
                        fp |= 1 << i
                out.append((mid, fp))
            yield pd.DataFrame(out, columns=["media_id", "audio_fp"])

    return media.mapInPandas(batches, schema="media_id long, audio_fp long")


def media_stats(media: DataFrame) -> DataFrame:
    """(media_id, kind, n_bytes, fingerprint) — byte length + md5 hex
    over the payload, computed in the Python stage to exercise the
    binary Arrow path end-to-end (oracle recomputes from the source
    string column)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "fingerprint": [
                        hashlib.md5(p or b"").hexdigest()
                        for p in pdf["payload"]
                    ],
                }
            )

    return media.mapInPandas(
        batches,
        schema="media_id long, kind string, n_bytes long, fingerprint string",
    )
