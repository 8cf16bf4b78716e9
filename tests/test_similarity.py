"""Golden + property tests for the similarity kernels (SURVEY §5.2).

fuzz_ratio must be bit-identical to thefuzz.fuzz.ratio backed by
python-Levenshtein (the reference's scorer, core.py:29,695): golden
values below were computed with that stack."""

import math
import random

import pandas as pd
import pytest

from music_dedupe_spark.functions.similarity import (
    fuzz_ratio,
    indel_distance,
    jaro,
    jaro_winkler,
    levenshtein_distance,
    norm_levenshtein,
    token_set_jaccard,
)


def _ref_indel(a: str, b: str) -> int:
    la, lb = len(a), len(b)
    dp = list(range(lb + 1))
    for i in range(1, la + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, lb + 1):
            cur = min(dp[j] + 1, dp[j - 1] + 1, prev + (0 if a[i - 1] == b[j - 1] else 2))
            prev, dp[j] = dp[j], cur
    return dp[lb]


GOLDEN_FUZZ = [
    ("kitten", "sitting", 62),
    ("", "", 100),
    ("abc", "", 0),
    ("", "abc", 0),
    ("this is a test", "this is a test!", 97),
    ("fuzzy wuzzy was a bear", "wuzzy fuzzy was a bear", 91),
    ("new york mets", "new york meats", 96),
    ("a", "a", 100),
    ("a", "b", 0),
    ("parse_config", "parse_config2", 96),
]


@pytest.mark.parametrize("a,b,want", GOLDEN_FUZZ)
def test_fuzz_ratio_golden(a, b, want):
    assert fuzz_ratio(a, b) == want
    assert fuzz_ratio(b, a) == want  # symmetric


def test_indel_matches_reference_dp():
    rng = random.Random(7)
    for _ in range(400):
        a = "".join(rng.choice("abcde _-") for _ in range(rng.randint(0, 15)))
        b = "".join(rng.choice("abcde _-") for _ in range(rng.randint(0, 15)))
        assert indel_distance(a, b) == _ref_indel(a, b), (a, b)


def test_levenshtein_golden():
    assert levenshtein_distance("kitten", "sitting") == 3
    assert levenshtein_distance("", "xyz") == 3
    assert norm_levenshtein("kitten", "sitting") == 1 - 3 / 7
    assert norm_levenshtein("", "") == 1.0


def test_jaro_winkler_golden():
    # canonical textbook values
    assert round(jaro_winkler("MARTHA", "MARHTA"), 4) == 0.9611
    assert round(jaro_winkler("DIXON", "DICKSONX"), 4) == 0.8133
    assert round(jaro_winkler("DWAYNE", "DUANE"), 4) == 0.84
    assert round(jaro("CRATE", "TRACE"), 4) == 0.7333
    assert jaro_winkler("same", "same") == 1.0
    assert jaro_winkler("", "x") == 0.0


def test_token_set_jaccard():
    assert token_set_jaccard(["a", "b"], ["b", "c"]) == pytest.approx(1 / 3)
    assert token_set_jaccard([], []) == 1.0
    assert token_set_jaccard(["a"], []) == 0.0
    assert token_set_jaccard(["a", "a", "b"], ["b", "a"]) == 1.0  # set semantics


def test_series_kernels_dedup_path():
    from music_dedupe_spark.functions.similarity import name_scores_frame

    # a repeated pair is scored once and fanned back out; a None key is ""
    a = pd.Series(["main", "main", "main", "utils", None])
    b = pd.Series(["main", "mian", "mian", "utils", "x"])
    out = name_scores_frame(a, b)
    assert list(out["fuzz_key"]) == [100, 75, 75, 100, 0]
    assert str(out["fuzz_key"].dtype) == "int32"


def test_name_scores_frame_parity():
    from music_dedupe_spark.functions.similarity import name_scores_frame

    rng = random.Random(9)

    def rs():
        return "".join(rng.choice("abcd 日本_-123") for _ in range(rng.randint(0, 14)))

    A = [rs() for _ in range(800)]
    B = [rs() for _ in range(800)]
    A += A[:100] + ["", "", "same"]  # dup pairs + empties + identical
    B += B[:100] + ["", "x", "same"]
    out = name_scores_frame(pd.Series(A), pd.Series(B))
    for i, (x, y) in enumerate(zip(A, B)):
        assert out["fuzz_key"].iloc[i] == fuzz_ratio(x, y), (x, y)
        lev = norm_levenshtein(x, y)
        assert out["norm_lev"].iloc[i] == pytest.approx(lev)
        if lev >= 0.8:  # cascade contract: jw computed only where relevant
            assert out["jw"].iloc[i] == pytest.approx(jaro_winkler(x, y))
        else:
            # gated-out jw is NaN (nulled by the scorer before persisting),
            # never a fake 0.0 that could mislead threshold tuning
            assert math.isnan(out["jw"].iloc[i])


def test_unicode_safety():
    # utf-32 codepoint path must handle non-BMP chars
    assert fuzz_ratio("日本語のタイトル", "日本語のタイトル") == 100
    assert fuzz_ratio("歌曲 - 现场版", "歌曲 - 录音室") > 0
    assert indel_distance("a😀b", "ab") == 1
