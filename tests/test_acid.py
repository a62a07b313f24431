"""TombstoneTable: merge-on-read DELETE WHERE / upsert over Parquet."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_database_spark.sources.acid import TombstoneTable


@pytest.fixture()
def table(spark, tmp_path):
    t = TombstoneTable(spark, str(tmp_path / "tbl"), key_col="id")
    t.append(
        spark.createDataFrame(
            [(i, f"doc {i}", i % 3) for i in range(30)],
            "id long, body string, org long",
        )
    )
    return t


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def test_read_roundtrip(table):
    assert _ids(table.read()) == list(range(30))


def test_delete_where_pushdown_and_view(table):
    n = table.delete_where(F.col("org") == 1)
    assert n == 10
    ids = _ids(table.read())
    assert len(ids) == 20 and all(i % 3 != 1 for i in ids)


def test_delete_where_is_idempotent_on_view(table):
    table.delete_where("org = 1")
    # second pass sees no matching VISIBLE rows → no new tombstones
    assert table.delete_where("org = 1") == 0
    assert table.tombstone_count() == 10


def test_delete_keys_cascade(table, spark):
    doomed = spark.createDataFrame([(0,), (5,), (29,)], "id long")
    table.delete_keys(doomed)
    ids = _ids(table.read())
    assert 0 not in ids and 5 not in ids and 29 not in ids
    assert len(ids) == 27


def test_upsert_is_delete_first_reingest(table, spark):
    incoming = spark.createDataFrame(
        [(3, "updated 3", 99), (100, "new 100", 99)],
        "id long, body string, org long",
    )
    table.upsert(incoming)
    view = {r["id"]: (r["body"], r["org"]) for r in table.read().collect()}
    assert view[3] == ("updated 3", 99)  # replaced, not duplicated
    assert view[100] == ("new 100", 99)  # inserted
    assert len(view) == 31
    # replay the same upsert → identical state (idempotent re-ingest)
    table.upsert(incoming)
    assert len(table.read().collect()) == 31


def test_compact_preserves_view_and_clears_tombstones(table):
    table.delete_where("org = 2")
    before = _ids(table.read())
    table.compact()
    assert _ids(table.read()) == before
    assert table.tombstone_count() == 0
    # post-compaction deletes still work
    table.delete_where("id < 2")
    assert len(_ids(table.read())) == len(before) - 2


def test_reopen_same_path(table, spark):
    table.delete_where("id >= 25")
    reopened = TombstoneTable(spark, str(table.root), key_col="id")
    assert _ids(reopened.read()) == list(range(25))


def test_append_rejects_schema_drift(table, spark):
    bad = spark.createDataFrame(
        [(1000, "body", 0, 99)], "id long, body string, org long, seq long"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        table.append(bad)


def test_recover_rolls_forward_half_swapped_compact(spark, tmp_path):
    """Simulate a crash between compact()'s two renames (base already
    moved to base_old, staging fully written but not yet renamed):
    the next read must heal the table and see the compacted view."""
    root = tmp_path / "crashy"
    t = TombstoneTable(spark, str(root), key_col="id")
    t.append(
        spark.createDataFrame(
            [(i, f"doc {i}") for i in range(10)], "id long, body string"
        )
    )
    t.delete_where("id >= 8")
    expected = _ids(t.read())
    # replay compact() up to the crash point
    epoch = t._bump_epoch()
    survivors = t.read().withColumn("_commit", F.lit(epoch))
    staging = root / "base_staging"
    survivors.write.mode("overwrite").parquet(str(staging))
    (root / "base").rename(root / "base_old")
    # crash here — no base/; reopening must roll forward
    reopened = TombstoneTable(spark, str(root), key_col="id")
    assert _ids(reopened.read()) == expected
    assert not (root / "base_old").exists()
    assert not (root / "base_staging").exists()
    assert reopened.tombstone_count() == 0


def test_recover_rolls_back_without_staging(spark, tmp_path):
    """Residue where only base_old exists (staging missing/incomplete):
    roll back to the old base; tombstones still apply at read."""
    root = tmp_path / "crashy2"
    t = TombstoneTable(spark, str(root), key_col="id")
    t.append(
        spark.createDataFrame(
            [(i, f"doc {i}") for i in range(6)], "id long, body string"
        )
    )
    t.delete_where("id = 0")
    expected = _ids(t.read())
    (root / "base").rename(root / "base_old")
    reopened = TombstoneTable(spark, str(root), key_col="id")
    assert _ids(reopened.read()) == expected


def test_time_travel_snapshots(table, spark):
    """read(as_of_epoch=E) replays the table as it stood at commit E;
    history truncates at compaction."""
    e1 = table._current_epoch()          # 30 originals committed
    table.delete_where("id >= 20")       # tombstones at e1
    incoming = spark.createDataFrame(
        [(5, "v2 of 5", 0)], "id long, body string, org long"
    )
    table.upsert(incoming)               # tombstone 5, replacement at e2
    e2 = table._current_epoch()

    assert _ids(table.read(as_of_epoch=e1)) == list(range(30))
    snap1 = {r["id"]: r["body"] for r in table.read(as_of_epoch=e1).collect()}
    assert snap1[5] == "doc 5"           # pre-upsert body
    now = {r["id"]: r["body"] for r in table.read().collect()}
    assert now[5] == "v2 of 5" and len(now) == 20
    assert _ids(table.read(as_of_epoch=e2)) == _ids(table.read())

    table.compact()                      # truncates travel history
    assert _ids(table.read(as_of_epoch=e1)) == []  # re-stamped past e1


def test_recover_rolls_back_on_incomplete_staging(spark, tmp_path):
    """A staging dir holding part-files but NO completeness proof
    (neither _SUCCESS nor the compactor's sentinel — the signature of
    a crash mid-job-commit) must NOT roll forward: a partial base
    would be served permanently. Roll back to base_old and clear the
    residue."""
    import shutil

    from rag_database_spark.sources.acid import STAGING_SENTINEL

    root = tmp_path / "crashy3"
    t = TombstoneTable(spark, str(root), key_col="id")
    t.append(
        spark.createDataFrame(
            [(i, f"doc {i}") for i in range(8)], "id long, body string"
        )
    )
    t.delete_where("id = 7")
    expected = _ids(t.read())

    # fabricate an INCOMPLETE staging: real part-files, proofs removed
    staging = root / "base_staging"
    survivors = t.read().withColumn("_commit", F.lit(99))
    survivors.limit(3).write.mode("overwrite").parquet(str(staging))
    (staging / "_SUCCESS").unlink()
    assert not (staging / STAGING_SENTINEL).exists()
    (root / "base").rename(root / "base_old")

    reopened = TombstoneTable(spark, str(root), key_col="id")
    assert _ids(reopened.read()) == expected  # old base, not 3 rows
    assert not (root / "base_staging").exists()
    assert not (root / "base_old").exists()  # renamed back to base

    # same crash point but WITH the sentinel (marksuccessfuljobs=false
    # deployment): roll FORWARD
    root2 = tmp_path / "crashy4"
    t2 = TombstoneTable(spark, str(root2), key_col="id")
    t2.append(
        spark.createDataFrame(
            [(i, f"doc {i}") for i in range(5)], "id long, body string"
        )
    )
    t2.delete_where("id = 0")
    expected2 = _ids(t2.read())
    epoch = t2._bump_epoch()
    staging2 = root2 / "base_staging"
    t2.read().withColumn("_commit", F.lit(epoch)).write.mode(
        "overwrite"
    ).parquet(str(staging2))
    (staging2 / "_SUCCESS").unlink()  # disabled committer marker
    (staging2 / STAGING_SENTINEL).touch()  # what compact() writes
    (root2 / "base").rename(root2 / "base_old")
    shutil.rmtree(root2 / "tombstones")

    reopened2 = TombstoneTable(spark, str(root2), key_col="id")
    assert _ids(reopened2.read()) == expected2
    assert not (root2 / "base_staging").exists()
    assert not (root2 / "base" / STAGING_SENTINEL).exists()
