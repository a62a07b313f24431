"""Garbage-collect orphaned derived-artifact directories under
``.cache/``.

Every persisted artifact (BM25 postings, IVF/PQ indexes, pair sets,
pagerank scores, LM/DSIR models, …) lives in a content-addressed
directory: ``.cache/<family>/<source-fingerprint><constants>-v<logic
version>``. ``__spark_entry__._artifact`` is the only writer of these
directories, and ``_artifact_key`` the only key format. When a
constant, a defining module, or the test corpus changes, builders
write a NEW directory and the old one is never read again — so the
cache grows monotonically across rounds.

GC here is ALWAYS SAFE: keys are deterministic functions of (corpus
fingerprint, constants, module sources), so deleting a live directory
costs exactly one rebuild on the next ``prepare()``; it can never
cause stale or wrong results. Policy is therefore simple age-based
collection on directory mtime (a rebuilt-or-rewritten artifact gets a
fresh mtime; an artifact untouched for the window is either orphaned
or cheap to rebuild).

Usage:
    python tools/cache_gc.py            # dry-run: list candidates
    python tools/cache_gc.py --delete   # actually remove
    python tools/cache_gc.py --days 30  # custom age window (default 14)
"""

from __future__ import annotations

import shutil
import sys
import time
from pathlib import Path

CACHE = Path(__file__).resolve().parent.parent / ".cache"
DEFAULT_DAYS = 14

# top-level .cache children that are NOT artifact families (never GC'd)
SKIP = {"scale_probe"}


def newest_mtime(d: Path) -> float:
    """Newest mtime under d — a family dir whose artifact was rewritten
    in place (e.g. tt_table epochs) must count as fresh."""
    best = d.stat().st_mtime
    for p in d.rglob("*"):
        try:
            m = p.stat().st_mtime
        except OSError:
            continue
        if m > best:
            best = m
    return best


def candidates(days: float) -> list[tuple[Path, float]]:
    cutoff = time.time() - days * 86400
    out = []
    if not CACHE.exists():
        return out
    for family in sorted(CACHE.iterdir()):
        if not family.is_dir() or family.name in SKIP:
            continue
        for art in sorted(family.iterdir()):
            if not art.is_dir():
                continue
            m = newest_mtime(art)
            if m < cutoff:
                out.append((art, m))
    return out


def main() -> int:
    days = DEFAULT_DAYS
    if "--days" in sys.argv:
        days = float(sys.argv[sys.argv.index("--days") + 1])
    delete = "--delete" in sys.argv
    cands = candidates(days)
    total = 0
    for art, m in cands:
        size = sum(
            p.stat().st_size for p in art.rglob("*") if p.is_file()
        )
        total += size
        age_d = (time.time() - m) / 86400
        tag = "DELETE" if delete else "would delete"
        print(f"{tag} {art.relative_to(CACHE)}  "
              f"({size / 1e6:.1f} MB, {age_d:.1f} d old)")
        if delete:
            shutil.rmtree(art)
    print(f"{'freed' if delete else 'reclaimable'}: "
          f"{total / 1e6:.1f} MB across {len(cands)} dirs "
          f"(age > {days:g} d)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
