"""Property-based invariants (hypothesis; SURVEY §5.4). Pure-python
properties only — Spark jobs stay out of hypothesis loops."""

import hypothesis.strategies as st
from hypothesis import given, settings

from music_dedupe_spark.functions.similarity import (
    fuzz_ratio,
    indel_distance,
    jaro_winkler,
    levenshtein_distance,
    name_scores_frame,
    norm_levenshtein,
    token_set_jaccard,
)
from music_dedupe_spark.operators.rungroup import rungroup_sequential

text = st.text(alphabet=st.characters(codec="utf-8"), max_size=24)


@given(text, text)
@settings(max_examples=300, deadline=None)
def test_indel_metric_properties(a, b):
    d = indel_distance(a, b)
    assert d == indel_distance(b, a)
    assert (d == 0) == (a == b)
    assert abs(len(a) - len(b)) <= d <= len(a) + len(b)
    # parity: indel distance has the same parity as len(a)+len(b)
    assert (d - (len(a) + len(b))) % 2 == 0


@given(text, text, text)
@settings(max_examples=200, deadline=None)
def test_indel_triangle_inequality(a, b, c):
    assert indel_distance(a, c) <= indel_distance(a, b) + indel_distance(b, c)


@given(text, text)
@settings(max_examples=300, deadline=None)
def test_score_ranges(a, b):
    assert 0 <= fuzz_ratio(a, b) <= 100
    assert 0.0 <= jaro_winkler(a, b) <= 1.0
    assert 0.0 <= norm_levenshtein(a, b) <= 1.0
    assert levenshtein_distance(a, b) <= indel_distance(a, b)


@given(st.lists(st.text(max_size=8), max_size=12), st.lists(st.text(max_size=8), max_size=12))
@settings(max_examples=200, deadline=None)
def test_jaccard_properties(xs, ys):
    j = token_set_jaccard(xs, ys)
    assert 0.0 <= j <= 1.0
    assert j == token_set_jaccard(ys, xs)
    if set(xs) == set(ys):
        assert j == 1.0


@given(st.lists(text, min_size=0, max_size=40))
@settings(max_examples=100, deadline=None)
def test_rungroup_sequential_invariants(keys):
    keys = sorted(keys)
    gids = rungroup_sequential(keys)
    assert len(gids) == len(keys)
    if gids:
        # group ids are 0..k contiguous and non-decreasing
        assert gids[0] == 0
        for p, n in zip(gids, gids[1:]):
            assert n in (p, p + 1)
        # identical adjacent keys never split
        for i in range(1, len(keys)):
            if keys[i] == keys[i - 1]:
                assert gids[i] == gids[i - 1]


@given(st.lists(st.tuples(text, text), min_size=1, max_size=60))
@settings(max_examples=100, deadline=None)
def test_name_scores_frame_matches_scalars(pairs):
    import pandas as pd

    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    out = name_scores_frame(a, b)
    for i, (x, y) in enumerate(pairs):
        assert out["fuzz_key"].iloc[i] == fuzz_ratio(x, y)
        assert abs(out["norm_lev"].iloc[i] - norm_levenshtein(x, y)) < 1e-12


@given(st.text(max_size=40), st.text(max_size=40))
@settings(max_examples=300, deadline=None)
def test_ship_prefilter_contains_gate(a, b):
    """score_candidates nulls token arrays when the JVM levenshtein
    prefilter fails; that is only sound if EVERY gate-passing pair
    satisfies lev(a,b) <= ship_frac * (|a| + |b|). Property-check the
    containment for the scoring thresholds over arbitrary strings."""
    import numpy as np

    from music_dedupe_spark.functions.similarity import (
        FUZZ_THRESHOLD,
        JW_GATE_LEV,
        levenshtein_distance,
        name_scores_arrays,
    )
    from music_dedupe_spark.operators.scoring import MIN_JARO_WINKLER, MIN_NORM_LEV

    # jw is computed wherever the gate's jw branch can pass
    assert JW_GATE_LEV <= MIN_NORM_LEV
    fuzz, jw, lev_n = name_scores_arrays(
        np.array([a], dtype=object), np.array([b], dtype=object)
    )
    gate = (fuzz[0] > FUZZ_THRESHOLD) or (
        (not np.isnan(jw[0]))
        and jw[0] >= MIN_JARO_WINKLER
        and lev_n[0] >= MIN_NORM_LEV
    )
    ship_frac = max(1.0 - (FUZZ_THRESHOLD + 0.5) / 100.0, 1.0 - MIN_NORM_LEV)
    ship = levenshtein_distance(a, b) <= ship_frac * (len(a) + len(b))
    if gate:
        assert ship, (a, b, fuzz[0], jw[0], lev_n[0])
