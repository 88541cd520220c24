"""Driver-side WAND iteration logic (wand.wand_driver_loop) in isolation.

The loop is pure Python over the pre-collected bound array; these tests
pin its contract — candidate windows, the max-remaining stop condition,
certificate-capped growth, truncation fallback — without a SparkSession,
so the edge cases stay cheap to exercise exhaustively.
"""

from __future__ import annotations

from veloci_spark.wand import blockmax_topk, wand_driver_loop


def _ubs(*vals):
    # desc-sorted (ub, block_no asc) exactly as collect_block_ubs returns
    rows = sorted(
        ({"block_no": i, "ub": v} for i, v in enumerate(vals)),
        key=lambda r: (-r["ub"], r["block_no"]),
    )
    return rows


def _exact_from(scores_by_block, k):
    """exact_fn stub: top-k docs from the union of candidate blocks,
    one doc per block with score = the block's true max."""
    calls = []

    def fn(cand_ids):
        calls.append(list(cand_ids))
        scores = sorted(
            (scores_by_block[b] for b in cand_ids), reverse=True
        )[:k]
        return [{"score": s} for s in scores]

    fn.calls = calls
    return fn


def test_stops_when_threshold_beats_remaining():
    # blocks 0..3 with ubs 100, 90, 10, 5; k=2, start=2: after decoding
    # the top-2 blocks the kth exact score (90) beats max remaining (10)
    true = {0: 100, 1: 90, 2: 10, 3: 5}
    rows = _ubs(100, 90, 10, 5)
    exact = _exact_from(true, k=2)
    res, decoded = wand_driver_loop(
        rows, 2, exact, lambda r: r["score"], start_blocks=2
    )
    assert [r["score"] for r in res] == [100, 90]
    assert decoded == 2
    assert exact.calls == [[0, 1]]


def test_certificate_caps_growth():
    # 40 blocks; the kth exact score after the first decode certifies
    # only 6 blocks can still matter -> m grows to 6, NOT 2*4=8
    true = {i: 1000 - i for i in range(40)}
    rows = _ubs(*[1000 - i for i in range(40)])
    exact = _exact_from(true, k=8)
    res, decoded = wand_driver_loop(
        rows, 8, exact, lambda r: r["score"], start_blocks=2
    )
    assert res is not None
    # decode windows only ever grow along the desc-sorted prefix
    for c in exact.calls:
        assert c == list(range(len(c)))
    # with k=8 and one doc per block, the certificate is exact: every
    # block with ub >= kth score, and not a block more
    kth = sorted((r["score"] for r in res), reverse=True)[7]
    assert decoded == sum(1 for v in true.values() if v >= kth)


def test_all_blocks_decoded_returns_without_bound():
    # fewer blocks than the start window: one decode of everything,
    # max_remaining is None -> immediate return
    true = {0: 5, 1: 3}
    rows = _ubs(5, 3)
    exact = _exact_from(true, k=10)
    res, decoded = wand_driver_loop(
        rows, 10, exact, lambda r: r["score"], start_blocks=8
    )
    assert [r["score"] for r in res] == [5, 3]
    assert decoded == 2


def test_truncated_window_forces_fallback():
    # window truncated at max_inlist + 1 = 4 rows and every collected
    # ub ties the kth score -> the true certificate count is unknowable
    # from the window; the loop must hand back (None, None) for the
    # full-decode fallback
    true = {i: 50 for i in range(4)}
    rows = _ubs(50, 50, 50, 50)
    exact = _exact_from(true, k=3)
    res, decoded = wand_driver_loop(
        rows,
        3,
        exact,
        lambda r: r["score"],
        start_blocks=2,
        max_inlist=3,
    )
    assert res is None and decoded is None


def test_underfull_topk_grows_geometrically():
    # fewer than k hits in the first window (kth is None) -> m *= 4
    true = {i: 100 - i for i in range(20)}
    rows = _ubs(*[100 - i for i in range(20)])
    exact = _exact_from(true, k=6)
    res, _ = wand_driver_loop(
        rows, 6, exact, lambda r: r["score"], start_blocks=1
    )
    assert res is not None
    assert [len(c) for c in exact.calls][:2] == [1, 4]


def test_quantize_ties_continue():
    # kth=90.00004 and remaining ub=90.00001 quantize equal at e4 ->
    # must NOT stop (an undecoded block could win the doc_id tie-break)
    q = lambda x: int(round(x * 10000))
    true = {0: 100.0, 1: 90.00004, 2: 90.00001, 3: 1.0}
    rows = _ubs(100.0, 90.00004, 90.00001, 1.0)
    exact = _exact_from(true, k=2)
    res, decoded = wand_driver_loop(
        rows, 2, exact, lambda r: r["score"], start_blocks=2, quantize=q
    )
    assert res is not None
    # the loop must have decoded past the tied block before returning
    assert decoded >= 3


def test_budget_exhaustion_returns_none():
    # ubs all equal, untruncated, but max_iters too small to converge
    true = {i: 10 for i in range(100)}
    rows = _ubs(*[10] * 100)
    exact = _exact_from(true, k=50)
    res, decoded = wand_driver_loop(
        rows, 50, exact, lambda r: r["score"], start_blocks=1, max_iters=2
    )
    assert res is None and decoded is None


def test_blockmax_topk_k0_is_empty_without_a_job():
    # k <= 0 must answer the empty frame before touching the bound frame
    # or decoding anything (the loop would read rows[-1] of no rows)
    made = []

    class _Session:
        def createDataFrame(self, rows, schema):
            made.append((list(rows), schema))
            return "empty"

    class _Bounds:
        sparkSession = _Session()

        def __getattr__(self, name):
            raise AssertionError(f"k=0 touched the bound frame: {name}")

    def exact(cand_ids):
        raise AssertionError("k=0 decoded")

    for k in (0, -1):
        out = blockmax_topk(
            _Bounds(), exact, k, "doc_id long, score_e4 long",
            lambda r: r["score_e4"],
        )
        assert out == "empty"
    assert made == [([], "doc_id long, score_e4 long")] * 2
