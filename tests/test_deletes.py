"""Document deletes: tombstones (live-docs filtering) + physical purge."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from miru_spark.index.reader import IndexReader
from miru_spark.index.writer import build_index, delete_docs, purge_deleted
from miru_spark.plans.search import (
    search_count,
    search_distributed,
    search_exhaustive,
    search_phrase,
    search_topk,
)
from miru_spark.schema import read_corpus
from tests.conftest import SF_DIR

DELETED = [169, 491, 7]


@pytest.fixture(scope="module")
def del_index(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("delidx") / "idx")
    build_index(
        spark, read_corpus(spark, SF_DIR), p, num_partitions=4,
        positions=True, target_chunk=64,
    )
    n = delete_docs(p, DELETED)
    assert n == len(DELETED)
    return p


def test_tombstones_filter_every_path(spark, del_index, reader, monkeypatch):
    r = IndexReader(spark, del_index)
    assert sorted(r.tombstones.tolist()) == sorted(DELETED)
    base = search_topk(reader, ["join", "hash"], k=10)
    assert any(d in DELETED for d, _ in base)  # deletions actually bite
    for got in [
        search_topk(r, ["join", "hash"], k=10),
        search_exhaustive(r, ["join", "hash"], k=10),
        [(x.doc_id, x.score) for x in search_distributed(r, ["join", "hash"]).collect()],
        search_phrase(r, "the a", k=100),
    ]:
        assert not ({d for d, _ in got} & set(DELETED))
    # and past the routing cutoff, where search_topk hands off
    from miru_spark.plans import search as S

    monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", 0)
    got = search_topk(r, ["join", "hash"], k=10)
    assert got and not ({d for d, _ in got} & set(DELETED))
    monkeypatch.undo()
    # survivors keep their exact scores (tombstones only REMOVE docs)
    base_scores = dict(base)
    for d, s in search_topk(r, ["join", "hash"], k=10):
        if d in base_scores:
            assert s == pytest.approx(base_scores[d], abs=1e-12)
    n = search_count(r, ["the"], "disjunctive").first().n_hits
    n0 = search_count(reader, ["the"], "disjunctive").first().n_hits
    dead_with_the = {
        x.doc_id
        for x in read_corpus(spark, SF_DIR)
        .filter(F.col("doc_id").isin(DELETED))
        .filter(F.concat(F.lit(" "), F.col("content"), F.lit(" ")).contains(" the "))
        .collect()
    }
    assert n == n0 - len(dead_with_the)


def test_delete_accumulates_and_validates(spark, tmp_path):
    p = str(tmp_path / "idx2")
    build_index(spark, read_corpus(spark, SF_DIR), p, num_partitions=2)
    assert delete_docs(p, [1, 2]) == 2
    assert delete_docs(p, [2, 3]) == 4  # raw rows; reader dedups
    r = IndexReader(spark, p)
    assert r.tombstones.tolist() == [1, 2, 3]
    with pytest.raises(ValueError):
        delete_docs(p, [])


def test_purge_matches_fresh_build_of_remaining_corpus(spark, del_index):
    """After purge, the index must be RANK-IDENTICAL (docids + scores) to a
    fresh build over the corpus minus the deleted docs — stats, df, and
    postings all physically reflect the deletion."""
    import shutil
    import tempfile

    p = tempfile.mkdtemp(prefix="purge_") + "/idx"
    shutil.copytree(del_index, p)
    stats = purge_deleted(spark, p)
    assert stats["n_docs"] == 500 - len(DELETED)
    r = IndexReader(spark, p)
    assert r.tombstones is None

    fresh_p = tempfile.mkdtemp(prefix="fresh_") + "/idx"
    remaining = read_corpus(spark, SF_DIR).filter(~F.col("doc_id").isin(DELETED))
    build_index(spark, remaining, fresh_p, num_partitions=4, positions=True)
    fr = IndexReader(spark, fresh_p)
    assert r.n_docs == fr.n_docs and r.stats["n_tokens"] == fr.stats["n_tokens"]
    for terms, mode in [
        (["join", "hash"], "conjunctive"),
        (["the", "dup"], "disjunctive"),
        (["dup"], "conjunctive"),
    ]:
        a = search_topk(r, terms, mode=mode, k=10)
        b = search_topk(fr, terms, mode=mode, k=10)
        assert [d for d, _ in a] == [d for d, _ in b]
        np.testing.assert_allclose([s for _, s in a], [s for _, s in b], atol=1e-9)
    assert search_phrase(r, "the a", k=10) == search_phrase(fr, "the a", k=10)


def test_purge_guards_and_idempotence(spark, tmp_path):
    import json
    import os

    from miru_spark.index.writer import read_manifest

    p = str(tmp_path / "gidx")
    build_index(spark, read_corpus(spark, SF_DIR), p, num_partitions=2)
    # no tombstones: purge is a stats-shaped no-op
    stats = purge_deleted(spark, p)
    assert stats["n_docs"] == 500 and "avgdl" in stats
    # deleting EVERYTHING is refused before any mutation
    delete_docs(p, list(range(500)))
    with pytest.raises(ValueError):
        purge_deleted(spark, p)
    # real purge invalidates the segment checkpoint so a later re-merge
    # cannot resurrect the dead docs
    import shutil

    shutil.rmtree(f"{p}/tombstones")
    delete_docs(p, [1, 2, 3])
    purge_deleted(spark, p)
    assert not os.path.isdir(f"{p}/segments")
    man = read_manifest(p)
    assert man["partitions"] == {} and man["purged"] == [1, 2, 3]
    # second purge: clean no-op with the updated stats
    assert purge_deleted(spark, p)["n_docs"] == 497
    # round-4: incremental (delta-merge) indexes purge too (full coverage
    # in test_incremental_purge.py); a stray _merged.json with no segments
    # checkpoint — this fabricated state — must not break the batch path
    with open(f"{p}/_merged.json", "w") as f:
        json.dump({"merged_batches": []}, f)
    delete_docs(p, [10])
    assert purge_deleted(spark, p)["n_docs"] == 496


def test_snapshot_time_travel_ignores_later_tombstones(spark, tmp_path):
    """Deletes after a snapshot must NOT leak into a time-traveled view;
    current-state readers DO see them; purge on snapshot indexes refuses."""
    from miru_spark.index.snapshots import list_snapshots

    p = str(tmp_path / "sidx")
    build_index(
        spark, read_corpus(spark, SF_DIR), p, num_partitions=2, snapshots=True
    )
    snap0 = list_snapshots(p)[-1]
    base = search_topk(IndexReader(spark, p), ["join", "hash"], k=10)
    victims = [base[0][0], base[1][0]]
    delete_docs(p, victims)
    pinned = IndexReader(spark, p, snapshot_id=snap0)
    assert search_topk(pinned, ["join", "hash"], k=10) == base
    current = IndexReader(spark, p)
    got = {d for d, _ in search_topk(current, ["join", "hash"], k=10)}
    assert not (got & set(victims))

    # ---- round 3: purge on a snapshot index commits a NEW snapshot ----
    stats = purge_deleted(spark, p)
    assert stats["n_docs"] == 498
    cur = IndexReader(spark, p)
    assert cur.snapshot["operation"] == "purge"
    assert cur.snapshot["purged_doc_ids"] == sorted(victims)
    assert cur.tombstones is None  # physically gone
    # purged current state ranks identically to a fresh build of the
    # remaining corpus
    fresh = str(tmp_path / "fresh")
    build_index(
        spark,
        read_corpus(spark, SF_DIR).filter(~F.col("doc_id").isin(victims)),
        fresh, num_partitions=2,
    )
    fr = IndexReader(spark, fresh)
    for terms, mode in [(["join", "hash"], "conjunctive"), (["the", "dup"], "disjunctive")]:
        a = search_topk(cur, terms, mode=mode, k=10)
        b = search_topk(fr, terms, mode=mode, k=10)
        assert [d for d, _ in a] == [d for d, _ in b]
        np.testing.assert_allclose([s for _, s in a], [s for _, s in b], atol=1e-9)
    # time travel to the pre-purge snapshot: pre-delete document set with
    # that version's stats (pinned readers ignore tombstones by design)
    pre = IndexReader(spark, p, snapshot_id=snap0)
    assert search_topk(pre, ["join", "hash"], k=10) == base
    assert pre.n_docs == 500
    # its docmap still carries every doc (purge wrote a NEW docmap version)
    assert pre.docmap_df().count() == 500
    assert cur.docmap_df().count() == 498
    # vacuum to the current snapshot only: purged chunks disappear,
    # current-state serving is unaffected
    from miru_spark.index.snapshots import vacuum

    removed = vacuum(p, keep_snapshots=1)
    assert removed  # the pre-purge files were orphaned
    cur2 = IndexReader(spark, p)
    assert search_topk(cur2, ["join", "hash"], k=10) == search_topk(
        cur, ["join", "hash"], k=10
    )


def test_purge_swap_roll_forward_from_every_crash_state(spark, tmp_path):
    """The dir-layout purge swap is re-entrant: simulate a crash at each
    point of the rename sequence and assert the next reader/purge call
    completes it (round 2's rmtree+rename lost postings on a mid-crash)."""
    import json
    import os
    import shutil

    from miru_spark.index.writer import _PURGE_SENTINEL, complete_purge_swap

    def mk(state: str):
        root = tmp_path / f"swap_{state}"
        root.mkdir()
        for d, marker in [("postings", "old"), ("docmap", "old")]:
            if state in ("before_rename1", "after_rename2"):
                (root / d).mkdir()
                (root / d / "marker.txt").write_text(
                    "old" if state == "before_rename1" else "new"
                )
            if state == "between_renames":
                (root / f"{d}_old").mkdir()
                (root / f"{d}_old" / "marker.txt").write_text("old")
            if state == "after_rename2":
                (root / f"{d}_old").mkdir()
                (root / f"{d}_old" / "marker.txt").write_text("old")
            if state in ("before_rename1", "between_renames"):
                (root / f"{d}_purged").mkdir()
                (root / f"{d}_purged" / "marker.txt").write_text("new")
        (root / _PURGE_SENTINEL).write_text(
            json.dumps({"dirs": ["postings", "docmap"]})
        )
        return str(root)

    for state in ("before_rename1", "between_renames", "after_rename2"):
        root = mk(state)
        assert complete_purge_swap(root) is True
        for d in ("postings", "docmap"):
            assert (
                open(f"{root}/{d}/marker.txt").read() == "new"
            ), f"{state}: {d} not rolled forward"
            assert not os.path.isdir(f"{root}/{d}_old")
            assert not os.path.isdir(f"{root}/{d}_purged")
        assert not os.path.exists(f"{root}/{_PURGE_SENTINEL}")
        shutil.rmtree(root)
    # no sentinel -> no-op
    assert complete_purge_swap(str(tmp_path)) is False
