"""Real-library seam smoke: exercise every optional-dependency
dispatcher against the ACTUAL library when it is installed.

This container ships none of the model/parser/codec libraries, so the
seams (``rag_database_spark/seams.py``) are verified by fake-module
injection units (tests/test_seams.py) — the strongest signal available
here. A production container that DOES carry the libraries validates
the real paths in one command:

    python tools/real_model_smoke.py [--fasttext-model PATH]

Per seam: SKIP when the library is absent (expected in this
container), OK when the real path ran and its minimal invariants held,
FAIL (non-zero exit) when a present library's path broke. Checks run
on tiny inline fixtures — a few rows, a 1-page PDF, an 8x8 PNG, a
100 ms WAV — so the whole sweep is seconds plus model load time.

Seams covered (reference integration points cited at each site):
  sentence-transformers  embedder.model_embed        (M1, dense_embedder.py:27-78)
  sentence-transformers  lifecycle.model_rerank      (M8, hybrid_search.py:576-625)
  fasttext               text_analytics.model_lang_id (lid.176.bin gating)
  unstructured           ingest.parse_documents      (S1/S2, document_processor.py:310-468)
  pdf2image              ingest.page_images_stub     (S4, document_processor.py:219-237)
  PIL                    multimodal.decode_media + image_dhash
  soundfile              multimodal.audio_fingerprint
"""

from __future__ import annotations

import argparse
import struct
import sys
import zlib
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from rag_database_spark.seams import have  # noqa: E402
from rag_database_spark.session import get_spark  # noqa: E402
from rag_database_spark.sources.tables import local_frame  # noqa: E402

FAILURES: list[str] = []


def _report(seam: str, status: str, detail: str = "") -> None:
    line = f"{seam:<24} {status}"
    if detail:
        line += f"  {detail}"
    print(line, flush=True)
    if status == "FAIL":
        FAILURES.append(seam)


def _run(seam: str, lib: str, fn) -> None:
    if not have(lib):
        _report(seam, "SKIP", f"{lib} not installed")
        return
    try:
        detail = fn()
        _report(seam, "OK", detail or "")
    except Exception as exc:  # a present library's real path broke
        _report(seam, "FAIL", f"{type(exc).__name__}: {exc}")


# ---------------------------------------------------------------- fixtures

MINIMAL_PDF = (
    b"%PDF-1.1\n"
    b"1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
    b"2 0 obj<</Type/Pages/Kids[3 0 R]/Count 1>>endobj\n"
    b"3 0 obj<</Type/Page/Parent 2 0 R/MediaBox[0 0 200 200]>>endobj\n"
    b"trailer<</Root 1 0 R>>\n%%EOF\n"
)


def minimal_png(w: int = 8, h: int = 8) -> bytes:
    """A valid grayscale PNG built with the stdlib only (no PIL needed
    to CREATE the fixture — PIL is the seam under test)."""
    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
    raw = b"".join(
        b"\x00" + bytes((x * 31 + y * 17) % 256 for x in range(w))
        for y in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def minimal_wav(n: int = 1600, rate: int = 16000) -> bytes:
    """100 ms of a rising-amplitude square-ish wave as 16-bit PCM WAV
    (stdlib struct only; soundfile is the seam under test)."""
    samples = b"".join(
        struct.pack("<h", (1000 + 20 * (i // 100)) * (1 if i % 50 < 25 else -1))
        for i in range(n)
    )
    return (
        b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(samples)) + samples
    )


# ---------------------------------------------------------------- checks


def build_checks(spark, fasttext_model: str = "lid.176.bin"):
    """The per-seam check list: (seam label, gating library, thunk).
    Factored out of main() so the in-suite harness test can drive the
    driver-capturable checks (embed/rerank/lang-id ship their model
    class by value into the workers) against injected fake modules."""
    from pyspark.sql.functions import col as F_col  # noqa: N812

    docs = local_frame(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "la rapida volpe marrone salta sopra il cane pigro"),
            (3, "machine learning pipelines curate training data"),
        ],
        "doc_id long, text string",
    )

    def check_embed() -> str:
        from rag_database_spark.functions import embedder

        rows = embedder.model_embed(docs).select("doc_id", "embedding").collect()
        assert len(rows) == 3
        dims = {len(r["embedding"]) for r in rows}
        assert len(dims) == 1 and dims.pop() > 0
        norms = [sum(x * x for x in r["embedding"]) for r in rows]
        assert all(abs(n - 1.0) < 1e-3 for n in norms), norms  # normalized
        return f"dim={len(rows[0]['embedding'])}"

    def check_rerank() -> str:
        from rag_database_spark.operators import lifecycle

        results = local_frame(
            spark,
            [(10, 1, 0.9), (10, 2, 0.8), (10, 3, 0.7)],
            "query_id long, id long, score double",
        )
        queries = local_frame(
            spark,
            [(10, "fox jumping over dog")],
            "query_id long, query_text string",
        )
        d = docs.select(F_col("doc_id").alias("id"), "text")
        out = lifecycle.model_rerank(results, queries, d, limit=2).collect()
        assert len(out) == 2
        assert all(r["rank"] in (1, 2) for r in out)
        return f"top1=doc{out[0]['id']}"

    def check_langid() -> str:
        from rag_database_spark.operators import text_analytics

        if not Path(fasttext_model).exists():
            return (
                f"library present, model file {fasttext_model} missing "
                "(pass --fasttext-model)"
            )
        rows = text_analytics.model_lang_id(
            docs, model_path=fasttext_model
        ).collect()
        assert len(rows) == 3
        langs = {r["doc_id"]: r["lang_pred"] for r in rows}
        assert langs[1] == "en", langs
        return f"langs={sorted(langs.values())}"

    def check_parse() -> str:
        from rag_database_spark.sources import ingest

        files = local_frame(
            spark,
            [("mem://a.txt", b"A Title\n\nBody paragraph one.\n\nBody two.")],
            "path string, content binary",
        )
        rows = ingest.parse_documents(files).collect()
        assert len(rows) >= 1
        assert all(r["text"] for r in rows)
        return f"elements={len(rows)}"

    def check_render() -> str:
        from rag_database_spark.sources import ingest

        files = local_frame(
            spark,
            [("mem://a.pdf", MINIMAL_PDF)], "path string, content binary"
        )
        rows = ingest.page_images_stub(files, dpi=36).collect()
        assert len(rows) == 1, len(rows)
        r = rows[0]
        assert r["width"] > 0 and r["height"] > 0 and len(r["image"]) > 8
        return f"page1 {r['width']}x{r['height']}, {len(r['image'])}B png"

    def check_image() -> str:
        from rag_database_spark.operators import multimodal

        media = local_frame(
            spark,
            [(1, "image", minimal_png())],
            "media_id long, kind string, payload binary",
        )
        dec = multimodal.decode_media(media, real=True).collect()
        assert dec[0]["ok"] and dec[0]["width"] == 8 and dec[0]["height"] == 8
        dh = multimodal.image_dhash(media, real=True).collect()
        assert len(dh) == 1
        return f"8x8 decoded, dhash={dh[0][1]}"

    def check_audio() -> str:
        from rag_database_spark.operators import multimodal

        media = local_frame(
            spark,
            [(1, minimal_wav())], "media_id long, payload binary"
        )
        out = multimodal.audio_fingerprint(media, real=True).collect()
        assert len(out) == 1
        # rising amplitude → at least one positive energy delta bit
        assert out[0]["audio_fp"] > 0
        return f"fp={out[0]['audio_fp']:#x}"

    return [
        ("sentence-embed (M1)", "sentence_transformers", check_embed),
        ("cross-encoder (M8)", "sentence_transformers", check_rerank),
        ("fasttext lang-id", "fasttext", check_langid),
        ("unstructured parse", "unstructured.partition.auto", check_parse),
        ("pdf2image render", "pdf2image", check_render),
        ("PIL decode/dhash", "PIL.Image", check_image),
        ("soundfile audio-fp", "soundfile", check_audio),
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--fasttext-model", default="lid.176.bin",
        help="path to a fastText language-ID model (lid.176.bin)",
    )
    args = ap.parse_args()
    spark = get_spark("real_model_smoke")
    for seam, lib, fn in build_checks(spark, args.fasttext_model):
        _run(seam, lib, fn)
    print(
        f"\n{len(FAILURES)} failure(s)"
        + (f": {FAILURES}" if FAILURES else " — every present library passed")
    )
    return 1 if FAILURES else 0


if __name__ == "__main__":
    raise SystemExit(main())
