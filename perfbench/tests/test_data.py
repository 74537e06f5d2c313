"""Seeded generator, exact ground truth and recall (no Spark needed).

Run from the repository root: python -m pytest perfbench/tests -q
"""

import numpy as np

from perfbench.data import Mixture, exact_topk, recall_at_k


def test_same_seed_gives_byte_identical_inputs():
    a, b = Mixture(7), Mixture(7)
    for stream, n in ((1, 300), (2, 64), (1001, 50)):
        assert a.draw(stream, n).tobytes() == b.draw(stream, n).tobytes()


def test_other_seed_or_stream_gives_other_inputs():
    assert Mixture(7).draw(1, 100).tobytes() != Mixture(8).draw(1, 100).tobytes()
    m = Mixture(7)
    assert m.draw(1, 100).tobytes() != m.draw(2, 100).tobytes()


def test_draw_shape_and_dtype():
    x = Mixture(3).draw(1, 10)
    assert x.shape == (10, 128) and x.dtype == np.float32


def test_exact_topk_matches_brute_force_sort():
    m = Mixture(5)
    base, queries = m.draw(1, 400), m.draw(2, 37)
    gids = np.arange(1000, 1400)
    got_g, got_d = exact_topk(base, gids, queries, 10, chunk=8)
    for i, q in enumerate(queries.astype(np.float64)):
        d = [float(np.sqrt(((q - b) ** 2).sum())) for b in base.astype(np.float64)]
        want = sorted(range(len(base)), key=lambda j: (d[j], gids[j]))[:10]
        assert got_g[i].tolist() == gids[want].tolist()
        np.testing.assert_allclose(got_d[i], [d[j] for j in want], rtol=0, atol=1e-9)


def test_exact_topk_breaks_ties_by_smaller_gid():
    base = np.array([[1, 0], [0, 1], [-1, 0], [0, -1], [3, 3]], dtype=np.float32)
    gids = np.array([40, 10, 30, 20, 0])
    got_g, got_d = exact_topk(base, gids, np.zeros((1, 2), dtype=np.float32), 3)
    assert got_g.tolist() == [[10, 20, 30]]
    assert got_d.tolist() == [[1.0, 1.0, 1.0]]


def test_recall_hand_checked():
    truth = np.array([[1, 2, 3, 4], [5, 6, 7, 8]])
    # query 10 finds 3 of 4; query 11 finds 1 of 4 (9 is not in its truth)
    results = {10: [1, 2, 3, 99], 11: [8, 9]}
    assert recall_at_k(results, truth, [10, 11]) == (3 / 4 + 1 / 4) / 2
    # a query with no rows counts as zero
    assert recall_at_k({}, truth, [10, 11]) == 0.0
