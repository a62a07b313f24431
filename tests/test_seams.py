"""Seam loadability: absent libraries fall back cleanly, and injecting
a (fake) library flips each seam to its real branch without code
changes — so the day the container gains unstructured/PIL/
sentence-transformers, S1/M1/multimodal light up automatically."""

from __future__ import annotations

import sys
import types

import pytest

from rag_database_spark import seams

# BGE models want this prefix on QUERIES (not documents) for best
# retrieval quality (reference dense_embedder.py:46-50, 66-72)
BGE_QUERY_PREFIX = "Represent this sentence for searching relevant passages: "


@pytest.fixture(autouse=True)
def _clear_probe_cache():
    # the negative-probe cache must not leak fake-module state between
    # tests (or hide a module injected later)
    seams._MISSING.clear()
    yield
    seams._MISSING.clear()


def test_optional_import_absent_is_none_and_cached():
    assert seams.optional_import("definitely_not_a_module_xyz") is None
    assert "definitely_not_a_module_xyz" in seams._MISSING
    assert seams.optional_import("definitely_not_a_module_xyz") is None
    assert not seams.have("definitely_not_a_module_xyz")


def test_optional_import_present():
    assert seams.optional_import("json") is not None
    assert seams.have("json")


def test_parse_seam_flips_with_injected_module(monkeypatch):
    from rag_database_spark.sources import ingest

    assert ingest._parse_impl() is ingest._fake_parse

    fake_root = types.ModuleType("unstructured")
    fake_part = types.ModuleType("unstructured.partition")
    fake_auto = types.ModuleType("unstructured.partition.auto")
    fake_auto.partition = lambda file=None: []
    monkeypatch.setitem(sys.modules, "unstructured", fake_root)
    monkeypatch.setitem(sys.modules, "unstructured.partition", fake_part)
    monkeypatch.setitem(
        sys.modules, "unstructured.partition.auto", fake_auto
    )
    assert ingest._parse_impl() is ingest._real_parse


def _element_fixture():
    """Recorded element-list fixture shaped like unstructured's output
    (reference document_processor.py:337-368): typed element objects
    whose class name is the category, str() is the text, and
    ``.metadata.page_number`` carries pagination — including the edge
    shapes the mapping must survive (missing metadata, page_number
    None, an empty PageBreak)."""

    class _Meta:
        def __init__(self, page_number=None):
            self.page_number = page_number

    def _el(cls_name, text, meta):
        cls = type(cls_name, (), {
            "__init__": lambda self, t, m: (
                setattr(self, "_t", t),
                setattr(self, "metadata", m),
            ) and None,
            "__str__": lambda self: self._t,
        })
        el = cls(text, meta)
        if meta is None:
            del el.metadata
        return el

    return [
        _el("Title", "Quarterly Report", _Meta(1)),
        _el("NarrativeText", "Revenue grew 12% year over year.", _Meta(1)),
        _el("Table", "Region | Revenue\nEMEA | 40", _Meta(2)),
        _el("Image", "chart: revenue by region", _Meta(2)),
        _el("FigureCaption", "Figure 1: revenue trend", _Meta(2)),
        _el("PageBreak", "", _Meta(None)),  # page_number None -> 1
        _el("NarrativeText", "Outlook remains positive.", None),  # no metadata
    ]


def test_real_parse_maps_recorded_elements_to_rows(monkeypatch):
    """The real-branch element→row mapping, line for line: category
    from the element's class name, text from str(), page from
    metadata.page_number with a 1 default — against a recorded
    fixture, not just an empty fake."""
    from rag_database_spark.sources import ingest

    recorded = _element_fixture()
    captured = {}

    def fake_partition(file=None):
        captured["payload"] = file.read()
        return recorded

    fake_root = types.ModuleType("unstructured")
    fake_part = types.ModuleType("unstructured.partition")
    fake_auto = types.ModuleType("unstructured.partition.auto")
    fake_auto.partition = fake_partition
    monkeypatch.setitem(sys.modules, "unstructured", fake_root)
    monkeypatch.setitem(sys.modules, "unstructured.partition", fake_part)
    monkeypatch.setitem(sys.modules, "unstructured.partition.auto", fake_auto)

    rows = ingest._real_parse(b"%PDF-1.7 fake body")
    assert captured["payload"] == b"%PDF-1.7 fake body"
    assert rows == [
        ("Title", "Quarterly Report", 1),
        ("NarrativeText", "Revenue grew 12% year over year.", 1),
        ("Table", "Region | Revenue\nEMEA | 40", 2),
        ("Image", "chart: revenue by region", 2),
        ("FigureCaption", "Figure 1: revenue trend", 2),
        ("PageBreak", "", 1),
        ("NarrativeText", "Outlook remains positive.", 1),
    ]
    # None content must not blow up the BytesIO wrap
    assert ingest._real_parse(None) == rows


def test_decode_seam_flips_with_injected_module(monkeypatch):
    """The shared _use_real dispatch (decode_media/resize_media/
    image_dhash/audio_fingerprint all route through it) flips with an
    injected PIL in auto mode, and an explicit pin overrides it."""
    from rag_database_spark.operators import multimodal

    assert multimodal._use_real(None, "PIL.Image") is False

    fake_pil = types.ModuleType("PIL")
    fake_img = types.ModuleType("PIL.Image")
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_img)
    assert multimodal._use_real(None, "PIL.Image") is True
    assert multimodal._use_real(False, "PIL.Image") is False


def test_render_seam_flips_and_maps_pages(monkeypatch):
    """S4 seam: dispatch flips with an injected pdf2image, and the
    real branch's page→row mapping (1-based page numbers, dimensions,
    PNG bytes) runs against fake page images."""
    from rag_database_spark.sources import ingest

    assert ingest._render_impl() is ingest._fake_render

    class FakeImage:
        def __init__(self, w, h, tag):
            self.width, self.height, self._tag = w, h, tag

        def save(self, buf, format=None):
            buf.write(f"PNG:{self._tag}:{format}".encode())

    fake = types.ModuleType("pdf2image")
    captured = {}

    def convert_from_bytes(content, dpi=None):
        captured["args"] = (content, dpi)
        return [FakeImage(600, 800, "a"), FakeImage(300, 400, "b")]

    fake.convert_from_bytes = convert_from_bytes
    monkeypatch.setitem(sys.modules, "pdf2image", fake)
    assert ingest._render_impl() is ingest._real_render

    rows = ingest._real_render(b"%PDF fake", dpi=72)
    assert captured["args"] == (b"%PDF fake", 72)
    assert rows == [
        (1, 600, 800, b"PNG:a:PNG"),
        (2, 300, 400, b"PNG:b:PNG"),
    ]


def test_model_rerank_raises_without_library(spark):
    from rag_database_spark.operators import lifecycle

    df = spark.createDataFrame([(1, 2)], "query_id long, id long")
    with pytest.raises(ImportError, match="sentence_transformers"):
        lifecycle.model_rerank(df, df, df, 5)


def test_model_rerank_plumbing_with_fake_cross_encoder(spark, monkeypatch):
    """Inject a deterministic fake CrossEncoder: proves the candidate-
    pruned pair join, batch shape, and re-ranking — the M8 real-model
    topology — without weights."""
    from rag_database_spark.operators import lifecycle

    fake = types.ModuleType("sentence_transformers")

    class FakeCE:
        def __init__(self, name):
            self.name = name

        def predict(self, pairs, batch_size=64):
            # longer doc text -> higher score; deterministic
            return [float(len(q) + 2 * len(d)) for q, d in pairs]

    fake.CrossEncoder = FakeCE
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)

    results = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12)], "query_id long, id long"
    )
    queries = spark.createDataFrame(
        [(1, "short query")], "query_id long, query_text string"
    )
    documents = spark.createDataFrame(
        [(10, "tiny"), (11, "a much longer document body"), (12, "medium text"),
         (99, "non-candidate must never be scored")],
        "id long, text string",
    )
    rows = lifecycle.model_rerank(
        results, queries, documents, limit=2
    ).orderBy("rank").collect()
    assert [(r["id"], r["rank"]) for r in rows] == [(11, 1), (12, 2)]
    assert rows[0]["rerank_score"] == float(len("short query") + 2 * len("a much longer document body"))


def test_model_embed_raises_without_library(spark):
    from rag_database_spark.functions import embedder

    df = spark.createDataFrame([(1, "hello world")], "id long, text string")
    with pytest.raises(ImportError, match="sentence_transformers"):
        embedder.model_embed(df)


def test_model_embed_plumbing_with_fake_model(spark, monkeypatch):
    """Inject a deterministic fake SentenceTransformer: proves the
    mapInPandas plumbing — schema, batch shape, vector types — without
    real weights."""
    from rag_database_spark.functions import embedder

    fake = types.ModuleType("sentence_transformers")

    class FakeModel:
        def __init__(self, name):
            self.name = name

        def encode(self, texts, batch_size=64, normalize_embeddings=True):
            return [[float(len(t)), 1.0, -0.5] for t in texts]

    fake.SentenceTransformer = FakeModel
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "abc")], "id long, text string"
    )
    out = embedder.model_embed(df).orderBy("id").collect()
    assert [r["id"] for r in out] == [1, 2]
    assert out[0]["embedding"] == [11.0, 1.0, -0.5]
    assert out[1]["embedding"] == [3.0, 1.0, -0.5]


def test_model_embed_encode_contract_recorded(spark, monkeypatch):
    """Recorded-shape pin of the real-model encode contract
    (dense_embedder.py:38-47, 58-63): batch_size and
    normalize_embeddings are forwarded, the BGE query prefix is
    prepended before encoding, and rows keep their input pairing.
    The fake surfaces the executor-side call shape through the output
    vectors (worker mutations can't cross back any other way)."""
    from rag_database_spark.functions import embedder

    fake = types.ModuleType("sentence_transformers")

    class FakeModel:
        def __init__(self, name):
            self.name = name

        def encode(self, texts, batch_size=None, normalize_embeddings=None):
            return [
                [
                    float(len(t)),
                    float(batch_size),
                    1.0 if normalize_embeddings else 0.0,
                ]
                for t in texts
            ]

    fake.SentenceTransformer = FakeModel
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)

    df = spark.createDataFrame(
        [(1, "hello"), (2, "hi")], "id long, text string"
    )
    out = {
        r["id"]: r["embedding"]
        for r in embedder.model_embed(
            df, batch_size=7, prefix=BGE_QUERY_PREFIX
        ).collect()
    }
    plen = len(BGE_QUERY_PREFIX)
    # normalize defaults ON (the reference always L2-normalizes)
    assert out[1] == [float(plen + 5), 7.0, 1.0]
    assert out[2] == [float(plen + 2), 7.0, 1.0]
    # document side: no prefix, normalize can be disabled explicitly
    out2 = {
        r["id"]: r["embedding"]
        for r in embedder.model_embed(
            df, batch_size=3, normalize=False
        ).collect()
    }
    assert out2[1] == [5.0, 3.0, 0.0] and out2[2] == [2.0, 3.0, 0.0]


def test_model_rerank_pair_order_and_batch_recorded(spark, monkeypatch):
    """Recorded-shape pin of the cross-encoder predict contract
    (hybrid_search.py:610-615): pairs arrive (query, doc) — the
    asymmetric score flips if the order were swapped — and batch_size
    is forwarded (surfaced through the score's integer part)."""
    from rag_database_spark.operators import lifecycle

    fake = types.ModuleType("sentence_transformers")

    class FakeCE:
        def __init__(self, name):
            self.name = name

        def predict(self, pairs, batch_size=64):
            return [
                1000.0 * batch_size + len(q) - len(d) for q, d in pairs
            ]

    fake.CrossEncoder = FakeCE
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)

    results = spark.createDataFrame(
        [(1, 10), (1, 11)], "query_id long, id long"
    )
    queries = spark.createDataFrame(
        [(1, "qq")], "query_id long, query_text string"
    )
    documents = spark.createDataFrame(
        [(10, "dddd"), (11, "d")], "id long, text string"
    )
    rows = (
        lifecycle.model_rerank(
            results, queries, documents, limit=2, batch_size=5
        )
        .orderBy("rank")
        .collect()
    )
    # (query, doc) ordering: score = 5000 + len(q) - len(d), so the
    # SHORTER doc ranks first; swapped pairs would invert this
    assert [(r["id"], r["rerank_score"]) for r in rows] == [
        (11, 5001.0),
        (10, 4998.0),
    ]


def test_real_parse_consumes_recorded_unstructured_elements(monkeypatch):
    """The real-branch logic itself — element typing via the class
    name, str() text extraction, page-number fallback — runs against a
    RECORDED Unstructured-style element list (shape:
    document_processor.py:337-368) without the library installed."""
    from rag_database_spark.sources import ingest

    class _Meta:
        def __init__(self, page_number):
            self.page_number = page_number

    def make(cls_name, text, meta):
        cls = type(cls_name, (), {"__str__": (lambda t: lambda self: t)(text)})
        ob = cls()
        if meta is not None:
            ob.metadata = meta
        return ob

    recorded = [
        make("Title", "Quarterly Report", _Meta(1)),
        make("NarrativeText", "Revenue grew 12% in Q3.", _Meta(1)),
        make("Table", "| a | b |", _Meta(2)),
        make("NarrativeText", "element without metadata", None),
        make("Footer", "page footer", _Meta(None)),  # page None -> 1
    ]

    seen = {}

    def partition(file=None):
        seen["bytes"] = file.read()
        return recorded

    fake_root = types.ModuleType("unstructured")
    fake_part = types.ModuleType("unstructured.partition")
    fake_auto = types.ModuleType("unstructured.partition.auto")
    fake_auto.partition = partition
    fake_part.auto = fake_auto
    fake_root.partition = fake_part
    monkeypatch.setitem(sys.modules, "unstructured", fake_root)
    monkeypatch.setitem(sys.modules, "unstructured.partition", fake_part)
    monkeypatch.setitem(sys.modules, "unstructured.partition.auto", fake_auto)

    out = ingest._real_parse(b"raw pdf bytes")
    assert seen["bytes"] == b"raw pdf bytes"
    assert out == [
        ("Title", "Quarterly Report", 1),
        ("NarrativeText", "Revenue grew 12% in Q3.", 1),
        ("Table", "| a | b |", 2),
        ("NarrativeText", "element without metadata", 1),
        ("Footer", "page footer", 1),
    ]
    # empty payload still routes through the library (BytesIO of b"")
    assert ingest._real_parse(None) == out
    assert seen["bytes"] == b""


def test_real_decode_consumes_recorded_pil_image(monkeypatch):
    from rag_database_spark.operators import multimodal

    class _Im:
        width = 640
        height = 480

    fake_img = types.ModuleType("PIL.Image")
    fake_img.open = lambda bio: _Im()
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_img
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_img)

    out = multimodal._real_decode(b"\x89PNGxxxx", "image")
    assert out == {"width": 640, "height": 480, "duration_ms": 0, "ok": True}
    # non-image kinds fall through to the deterministic stub fields
    assert multimodal._real_decode(b"zz", "video") == multimodal._fake_decode(
        b"zz", "video"
    )


def test_real_pixels_consumes_recorded_pil_image(monkeypatch):
    """The dHash real-pixel branch drives PIL grayscale+resize and
    returns the row-major pixel list — pinned against a recorded fake
    so the real decoder drops in with no code change."""
    from rag_database_spark.operators import multimodal

    calls = {}

    class _Im:
        def convert(self, mode):
            calls["mode"] = mode
            return self

        def resize(self, size):
            calls["size"] = size
            return self

        def getdata(self):
            return range(calls["size"][0] * calls["size"][1])

    fake_img = types.ModuleType("PIL.Image")
    fake_img.open = lambda bio: _Im()
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_img
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_img)

    px = multimodal._real_pixels(b"\x89PNGxxxx", 6, 11)
    assert calls == {"mode": "L", "size": (11, 6)}
    assert px == list(range(66))


def test_model_lang_id_raises_without_library(spark):
    from rag_database_spark.operators import text_analytics as ta

    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    with pytest.raises(ImportError, match="fasttext"):
        ta.model_lang_id(df)


def test_model_lang_id_plumbing_with_fake_fasttext(spark, monkeypatch):
    """Inject a deterministic fake fastText model: proves the
    mapInPandas plumbing — newline stripping, batch predict shape,
    label unwrapping, the min-confidence gate — without weights."""
    from rag_database_spark.operators import text_analytics as ta

    fake = types.ModuleType("fasttext")

    class FakeModel:
        def __init__(self, path):
            self.path = path

        def predict(self, texts, k=1):
            # the real API rejects newlines: enforce the contract
            assert all("\n" not in t for t in texts)
            labels, probs = [], []
            for t in texts:
                if not t.strip():
                    # real fastText returns an EMPTY tuple for
                    # token-less input — the fake must mirror it or
                    # the blank/NULL guard is untestable (ADVICE r12)
                    labels.append(())
                    probs.append(())
                elif "bonjour" in t:
                    labels.append(("__label__fr",))
                    probs.append((0.99,))
                else:
                    labels.append(("__label__en",))
                    probs.append((0.42,))
            return labels, probs

    fake.load_model = lambda path: FakeModel(path)
    monkeypatch.setitem(sys.modules, "fasttext", fake)

    df = spark.createDataFrame(
        [
            (1, "hello\nworld"),
            (2, "bonjour le monde"),
            (3, None),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in ta.model_lang_id(df, min_confidence=0.5).collect()
    }
    assert rows[2]["lang_pred"] == "fr"
    assert rows[2]["confidence"] == pytest.approx(0.99)
    # en prediction at 0.42 falls under the 0.5 gate -> unknown,
    # but the raw confidence is still reported
    assert rows[1]["lang_pred"] == "unknown"
    assert rows[1]["confidence"] == pytest.approx(0.42)
    # NULL and blank texts: fastText emits an empty label tuple —
    # mapped to ('unknown', 0.0), never IndexError (ADVICE r12)
    for blank_id in (3, 4):
        assert rows[blank_id]["lang_pred"] == "unknown"
        assert rows[blank_id]["confidence"] == 0.0


def test_real_model_smoke_harness(spark, monkeypatch, tmp_path):
    """Drive tools/real_model_smoke.py's check list against injected
    fakes: the three driver-capturable seams (embed / rerank /
    lang-id ship their model class by value into the workers) run
    end-to-end and must report OK-grade details, and the inline
    fixtures the worker-side seams depend on (PNG / WAV / PDF bytes)
    are structurally valid so a real decoder won't reject them."""
    import struct
    import zlib

    from tools import real_model_smoke as rms

    # --- fixture validity (the risky part of the worker-side checks)
    png = rms.minimal_png()
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", png[16:24])
    assert (w, h) == (8, 8)
    idat = png[png.index(b"IDAT") + 4:png.rindex(b"IEND") - 4]
    assert len(zlib.decompress(idat)) == h * (1 + w)  # filter byte + row

    wav = rms.minimal_wav()
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    n_data = struct.unpack("<I", wav[40:44])[0]
    assert n_data == len(wav) - 44 and n_data == 1600 * 2

    assert rms.MINIMAL_PDF.startswith(b"%PDF") and b"%%EOF" in rms.MINIMAL_PDF

    # --- driver-capturable seams end-to-end against fakes
    fake_st = types.ModuleType("sentence_transformers")

    class FakeST:
        def __init__(self, name):
            pass

        def encode(self, texts, batch_size=64, normalize_embeddings=True):
            return [[1.0, 0.0, 0.0] for _ in texts]  # unit vectors

    class FakeCE:
        def __init__(self, name):
            pass

        def predict(self, pairs, batch_size=64):
            return [float(len(d)) for _, d in pairs]

    fake_st.SentenceTransformer = FakeST
    fake_st.CrossEncoder = FakeCE
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake_st)

    fake_ft = types.ModuleType("fasttext")

    class FakeFT:
        def predict(self, texts, k=1):
            return (
                [("__label__en",) for _ in texts],
                [(0.99,) for _ in texts],
            )

    fake_ft.load_model = lambda path: FakeFT()
    monkeypatch.setitem(sys.modules, "fasttext", fake_ft)
    model_file = tmp_path / "lid.176.bin"
    model_file.write_bytes(b"fake")

    checks = {
        seam: fn
        for seam, _lib, fn in rms.build_checks(spark, str(model_file))
    }
    assert checks["sentence-embed (M1)"]().startswith("dim=3")
    assert checks["cross-encoder (M8)"]().startswith("top1=")
    assert "en" in checks["fasttext lang-id"]()
