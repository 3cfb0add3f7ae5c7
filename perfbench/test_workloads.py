"""Tests for the corpus_dedup output check's helpers.

Run: python3 -m pytest perfbench/test_workloads.py -q
"""

import itertools
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402


def test_similar_pairs_matches_all_pairs_jaccard():
    rng = random.Random(7)
    vocab = "a b c d e f".split()
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12)))
             for _ in range(60)]
    sh = {i: workloads.shingles(t) for i, t in enumerate(texts)}
    for least in (0.3, 0.5, 0.8):
        want = {frozenset((a, b)) for a, b in itertools.combinations(sh, 2)
                if workloads.jaccard(sh[a], sh[b]) >= least}
        assert workloads.similar_pairs(sh, least) == want


def test_similar_pairs_finds_marker_copies_only():
    sh = {k: workloads.shingles(t) for k, t in {
        1: "join scan sort hash merge row key value",
        2: "join scan sort hash merge row key value dup",
        3: "table stream window vector batch part line data",
    }.items()}
    assert workloads.similar_pairs(sh, 0.8) == {frozenset((1, 2))}
