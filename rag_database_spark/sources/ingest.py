"""Ingestion sources — document parse seam and page-image extraction
stub over a ``binaryFile`` scan (S1/S2/S4;
src/ingestion/document_processor.py).

The reference parses with Unstructured.io + pdf2image (not available in
this container). The engine keeps the Spark-side topology real — a
distributed ``binaryFile`` scan fanning into a parse ``mapInPandas``
that emits typed element rows — and stubs only the library call: the
fake parser splits text bytes into paragraph elements deterministically.
A real parser replaces ``_fake_parse`` alone; schema, batching, and
downstream operators are already wired.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

ELEMENT_SCHEMA = (
    "document_id string, element_index int, category string, text string, "
    "page_number int"
)
PAGE_CHARS = 2000  # fake-parser page size


def _doc_id(path: str, content: bytes) -> str:
    """F21 id scheme: {stem}_{md5[:12]} (document_processor.py:183-188)."""
    stem = path.rsplit("/", 1)[-1].rsplit(".", 1)[0]
    return f"{stem}_{hashlib.md5(content or b'').hexdigest()[:12]}"


def _real_parse(content: bytes) -> list[tuple[str, str, int]]:
    """S1/S2 real path (document_processor.py:310-468): route the bytes
    through unstructured.partition.auto — same (category, text, page)
    triples the stub emits, so downstream plumbing is identical.
    Dispatched to when the library is importable (see ``_parse_impl``);
    the element-typing/page-number logic is covered by a recorded
    fixture test that injects a fake module (tests/test_seams.py)."""
    from io import BytesIO

    from unstructured.partition.auto import partition

    out = []
    for el in partition(file=BytesIO(content or b"")):
        meta = getattr(el, "metadata", None)
        page = getattr(meta, "page_number", None) or 1
        out.append((type(el).__name__, str(el), int(page)))
    return out


def _parse_impl():
    """Pick the parse implementation at call time on the executing
    machine: real library when importable, deterministic stub
    otherwise. The smoke test injects a fake module to prove the real
    branch wires up without code changes."""
    from rag_database_spark.seams import have

    return _real_parse if have("unstructured.partition.auto") else _fake_parse


def _fake_parse(content: bytes) -> list[tuple[str, str, int]]:
    """Deterministic parse stub: decode utf-8 (replace errors), split on
    blank lines into elements; a leading short line becomes a Title;
    page = char-offset // PAGE_CHARS. ``_real_parse`` replaces it when
    unstructured is installed (S1/S2 seam)."""
    text = (content or b"").decode("utf-8", errors="replace")
    out = []
    offset = 0
    for idx, para in enumerate(p for p in text.split("\n\n") if p.strip()):
        category = (
            "Title"
            if idx == 0 and len(para.strip()) < 80 and "\n" not in para.strip()
            else "NarrativeText"
        )
        if para.lstrip().startswith("|"):
            category = "Table"
        out.append((category, para.strip(), offset // PAGE_CHARS + 1))
        offset += len(para) + 2
    return out


def parse_documents(files: DataFrame) -> DataFrame:
    """S1/S2: binary files → element rows (one file → many elements)
    through an Arrow-batched mapInPandas; the parse library call is the
    only stubbed piece."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parse = _parse_impl()  # resolved once per partition, executor-side
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                did = _doc_id(path, content)
                for ei, (cat, text, page) in enumerate(parse(content)):
                    rows.append((did, ei, cat, text, page))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "document_id", "element_index", "category", "text",
                        "page_number",
                    ],
                )

    return files.select("path", "content").mapInPandas(
        batches, schema=ELEMENT_SCHEMA
    )


def _real_render(content: bytes, dpi: int) -> list[tuple[int, int, int, bytes]]:
    """S4 real path (document_processor.py:219-237): pdf2image page
    rendering → (page_number, width, height, png_bytes) rows, the same
    shape the stub emits. Dispatched to by ``_render_impl`` when the
    library is importable; the page→row mapping is covered by a
    fake-module injection test (tests/test_seams.py)."""
    from io import BytesIO

    from pdf2image import convert_from_bytes

    out = []
    for p, img in enumerate(convert_from_bytes(content or b"", dpi=dpi), 1):
        buf = BytesIO()
        img.save(buf, format="PNG")
        out.append((p, int(img.width), int(img.height), buf.getvalue()))
    return out


def _render_impl():
    """Real renderer when pdf2image is importable, deterministic stub
    otherwise — same call-time dispatch as ``_parse_impl``."""
    from rag_database_spark.seams import have

    return _real_render if have("pdf2image") else _fake_render


def _fake_render(content: bytes, dpi: int) -> list[tuple[int, int, int, bytes]]:
    """Deterministic render stub: letter-size dimensions, one page per
    PAGE_CHARS of content, md5-derived fake bytes."""
    n_pages = max(1, len(content or b"") // PAGE_CHARS)
    return [
        (p, 612, 792, hashlib.md5(f"page|{p}|{dpi}".encode()).digest())
        for p in range(1, n_pages + 1)
    ]


def page_images_stub(files: DataFrame, dpi: int = 150) -> DataFrame:
    """S4 (document_processor.py:219-237 pdf2image): binary files →
    page-image rows; the renderer is the only seam-stubbed piece
    (``_render_impl`` dispatches executor-side)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        render = _render_impl()  # resolved once per partition
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                did = _doc_id(path, content)
                for p, w, h, img in render(content, dpi):
                    rows.append((did, p, w, h, img))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "document_id", "page_number", "width", "height",
                        "image",
                    ],
                )

    return files.select("path", "content").mapInPandas(
        batches,
        schema=(
            "document_id string, page_number int, width int, height int, "
            "image binary"
        ),
    )


