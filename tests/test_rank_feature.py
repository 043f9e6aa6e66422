"""A79 — rank_feature / distance_feature (ES rank_feature + distance_feature
/ Lucene FeatureQuery + LongDistanceFeatureQuery): additive bounded
per-doc static score. Pinned value-for-value against the DuckDB twin per
kernel; feature queries stay on the driver kernel past the routing cutoff,
checked across queries, modes and kernels."""

from __future__ import annotations

import numpy as np
import pytest

from miru_spark.plans.rankfeature import (
    DistanceFeature,
    RankFeature,
    rank_feature_oracle_sql,
    search_rank_feature,
    search_rank_feature_distributed,
)
from miru_spark.plans.search import search_topk

TERMS = ["join", "hash"]
SAT = RankFeature("doc_len", kind="saturation", pivot=40.0, boost=2.0)
LOG = RankFeature("doc_len", kind="log", scaling_factor=1.0, boost=0.5)
SIG = RankFeature("doc_len", kind="sigmoid", pivot=40.0, exponent=2.0,
                  boost=2.0)
DIST = DistanceFeature("doc_len", origin=50.0, pivot=10.0, boost=3.0)
KERNELS = [SAT, LOG, SIG, DIST]
_IDS = ["saturation", "log", "sigmoid", "distance"]


def _dist(reader, feature, terms=TERMS, **kw):
    rows = search_rank_feature_distributed(reader, terms, feature, **kw)
    return [(r.doc_id, r.score) for r in rows.collect()]


def _exp(duck, feature, terms=TERMS, **kw):
    return [
        (int(d), float(s))
        for d, s in duck.execute(
            rank_feature_oracle_sql(terms, feature, **kw)
        ).fetchall()
    ]


@pytest.mark.parametrize("feature", KERNELS, ids=_IDS)
def test_distributed_matches_oracle(reader, duck, feature):
    assert _dist(reader, feature) == _exp(duck, feature) != []


def test_oracle_identity_conjunctive_and_not(reader, duck):
    got = _dist(reader, SAT, mode="conjunctive", exclude=["dup"])
    assert got == _exp(duck, SAT, mode="conjunctive", exclude=["dup"]) != []


@pytest.mark.parametrize("feature", KERNELS, ids=_IDS)
@pytest.mark.parametrize(
    "terms,mode",
    [
        (TERMS, "disjunctive"),
        (TERMS, "conjunctive"),
        (["the", "a", "dup"], "disjunctive"),
        (["the", "dup"], "conjunctive"),
    ],
    ids=str,
)
def test_wand_bonus_equals_exhaustive_bonus(
    reader, feature, terms, mode, monkeypatch
):
    """Past the routing cutoff a feature query stays on the driver kernel
    (the distributed plan takes no feature), so its answer is unchanged.
    (Historical name: the path past the cutoff was WAND.)"""
    from miru_spark.plans import search as S

    ex = search_rank_feature(reader, terms, feature, mode=mode, k=10)
    monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", 0)
    fast = search_rank_feature(reader, terms, feature, mode=mode, k=10)
    assert fast == ex != []


def test_driver_path_matches_distributed(reader):
    fast = search_rank_feature(reader, TERMS, SAT, mode="disjunctive", k=10)
    dist = _dist(reader, SAT)
    assert [(d, round(s, 4)) for d, s in fast] == [
        (d, round(s, 4)) for d, s in dist
    ]


def test_feature_reorders_but_never_filters(reader):
    """The feature is a SHOULD clause: candidate set identical to the plain
    query, scores >= the plain scores (contribution is non-negative)."""
    plain = dict(search_topk(reader, TERMS, mode="disjunctive", k=1000))
    feat = dict(search_rank_feature(reader, TERMS, SAT, k=1000))
    assert set(plain) == set(feat)
    assert all(feat[d] >= plain[d] - 1e-12 for d in plain)
    assert any(feat[d] > plain[d] for d in plain)


@pytest.mark.parametrize(
    "feature", [SAT, SIG, DIST], ids=["saturation", "sigmoid", "distance"]
)
def test_bounded_kernels_respect_boost(reader, feature):
    vals = reader.feature_values("doc_len")
    contrib = feature.np_contrib(vals)
    assert contrib.min() >= 0.0
    assert contrib.max() <= feature.boost + 1e-12


def test_distance_peaks_at_origin():
    c = DIST.np_contrib(np.array([50.0, 60.0, 40.0, np.nan]))
    assert c[0] == pytest.approx(DIST.boost)
    assert c[1] == c[2] < c[0]
    assert c[3] == 0.0


def test_missing_feature_contributes_zero():
    for f in KERNELS:
        c = f.np_contrib(np.array([np.nan, 10.0]))
        assert c[0] == 0.0 and c[1] > 0.0


def test_saturation_monotone():
    c = SAT.np_contrib(np.array([0.0, 1.0, 10.0, 100.0, 1e6]))
    assert (np.diff(c) > 0).all() and c[0] == 0.0


def test_search_after_uses_final_scores(reader):
    """Keyset pagination composes: page 2 via a real page-1 cursor tiles
    the k=20 ranking, comparing FINAL (bm25 + feature) scores."""
    full = search_rank_feature(reader, TERMS, SAT, k=20)
    page1 = search_rank_feature(reader, TERMS, SAT, k=10)
    cursor = (page1[-1][1], page1[-1][0])
    page2 = search_topk(reader, TERMS, mode="disjunctive", k=10,
                        after=cursor, feature=SAT)
    assert page1 + page2 == full


def test_validation():
    with pytest.raises(ValueError, match="kind"):
        RankFeature("doc_len", kind="nope")
    with pytest.raises(ValueError, match="pivot"):
        RankFeature("doc_len", pivot=0.0)
    with pytest.raises(ValueError, match="scaling_factor"):
        RankFeature("doc_len", kind="log", scaling_factor=0.5)
    with pytest.raises(ValueError, match="exponent"):
        RankFeature("doc_len", kind="sigmoid", exponent=0.0)
    with pytest.raises(ValueError, match="pivot"):
        DistanceFeature("doc_len", origin=0.0, pivot=0.0)


def test_unknown_field_rejected(reader):
    with pytest.raises(ValueError, match="docmap column"):
        search_rank_feature(reader, TERMS, RankFeature("nope", pivot=1.0))
