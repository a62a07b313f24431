"""The r17 artifact-staleness contract: derived-artifact cache keys
carry a content hash of their defining modules (plus, for
entry-wired artifacts, the entry file itself), so a LOGIC edit
rebuilds the artifact instead of serving a stale frame. These units
pin the helper's semantics; the end-to-end proof is the 20-entry
differential re-run recorded in SURVEY §8."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from rag_database_spark.functions import text as text_fns
from rag_database_spark.operators import bm25 as bm25_ops
from rag_database_spark.operators import dedup
from rag_database_spark.operators import graph as graph_ops


def test_logic_version_is_memoized_and_stable():
    a = entrymod._logic_version(dedup, text_fns, with_entry=False)
    b = entrymod._logic_version(dedup, text_fns, with_entry=False)
    assert a == b and len(a) == 10


def test_logic_version_is_order_insensitive():
    """Callers list modules in whatever order reads naturally; the
    version must not depend on it (sorted by module name inside)."""
    a = entrymod._logic_version(dedup, text_fns, with_entry=False)
    b = entrymod._logic_version(text_fns, dedup, with_entry=False)
    assert a == b


def test_logic_version_distinguishes_module_sets_and_entry_flag():
    base = entrymod._logic_version(dedup, text_fns, with_entry=False)
    other = entrymod._logic_version(bm25_ops, text_fns, with_entry=False)
    with_entry = entrymod._logic_version(dedup, text_fns)
    assert base != other
    assert base != with_entry  # entry-file bytes fold in by default


def test_logic_version_tracks_module_content(tmp_path, monkeypatch):
    """Rewriting a module's source file must change its version — the
    whole point: a logic edit with unchanged constants invalidates."""
    import types

    fake = types.ModuleType("fake_mod_for_logic_version")
    p = tmp_path / "fake_mod.py"
    p.write_text("X = 1\n")
    fake.__file__ = str(p)
    v1 = entrymod._logic_version(fake, with_entry=False)
    p.write_text("X = 2\n")
    # bust the memo: the helper memoizes by module-name key (correct
    # in-process, where sources cannot change); simulate a new process
    monkeypatch.setattr(entrymod, "_LOGIC_VERSIONS", {})
    v2 = entrymod._logic_version(fake, with_entry=False)
    assert v1 != v2


def test_graph_logic_version_covers_tokenizer_layer(tmp_path):
    """The doc-graph key's version must include graph.py, dedup.py AND
    functions/text.py (shingles — hence near_dup edges — derive from
    the tokenizer layer) plus the entry file's edge wiring."""
    (tmp_path / "documents.parquet").write_bytes(b"")
    key = entrymod._graph_key(str(tmp_path))
    assert key.endswith(
        "-v" + entrymod._logic_version(graph_ops, dedup, text_fns)
    )
