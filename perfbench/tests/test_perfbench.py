"""Self-tests of the benchmark's own machinery; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import checks, gen, stats
from perfbench import trace as tr


# -- seeded inputs ---------------------------------------------------------------

def _digest(seed: int) -> str:
    blob = json.dumps([
        gen.fanout_dim(), gen.fanout_batch(seed, 0), gen.fanout_batch(seed, 7),
        gen.sketch_batch(seed, 3), gen.read_preload(seed)[:5000],
        gen.read_batch(seed, 2), [gen.batch_step(seed, "fanout", i)
                                  for i in range(20)],
        gen.dedup_corpus(seed)[:50], sorted(gen.dedup_batch(seed, 4)[1])])
    return hashlib.sha256(blob.encode()).hexdigest()


def test_same_seed_same_bytes():
    assert _digest(11) == _digest(11)


def test_other_seed_other_bytes():
    assert _digest(11) != _digest(12)


def test_window_steps_stay_in_window():
    steps = {gen.batch_step(5, "read_mix", i) for i in range(200)}
    steps |= {j for *_, j in gen.read_preload(5)}
    assert steps == set(range(gen.SW_STEPS))


def test_planted_near_dups_are_near_copies():
    docs, planted = gen.dedup_batch(2, 0)
    base = {t for _, t in gen.dedup_corpus(2)}
    assert len(docs) == gen.DEDUP_ROWS and len(planted) == gen.DEDUP_PLANTED
    for d, text in docs:
        words = text.split()
        near = any(sum(a != b for a, b in zip(words, t.split()))
                   <= gen.DEDUP_EDITS for t in base)
        assert near == (d in planted), d


def test_batches_independent_of_order():
    later = gen.fanout_batch(3, 5)
    for i in range(5):
        gen.fanout_batch(3, i)
    assert gen.fanout_batch(3, 5) == later


# -- tail percentile rule ------------------------------------------------------------

@pytest.mark.parametrize("n, want_q", [
    (9, None), (19, None), (20, 50.0), (100, 90.0), (1000, 99.0),
    (10000, 99.9)])
def test_tail_fixed_points(n, want_q):
    got = stats.tail([float(i) for i in range(n)])
    assert (got[0] if got else None) == want_q


def test_tail_is_highest_percentile_with_ten_beyond():
    qs = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
    for n in range(1, 400):
        xs = [float(i) for i in range(n)]
        got = stats.tail(xs)
        beyond = {q: sum(1 for x in xs if x > stats.percentile(xs, q))
                  for q in qs}
        ok = [q for q in qs if beyond[q] >= stats.TAIL_MIN_BEYOND]
        assert (got[0] if got else None) == (ok[-1] if ok else None), n


def test_percentile_interpolates():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert stats.percentile([5.0], 99) == 5.0


def test_spread_matches_statistics_quantiles():
    med, q1, q3, sp = stats.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (med, q1, q3) == (3.0, 1.5, 4.5)
    assert sp == pytest.approx(1.0)


# -- span arithmetic ---------------------------------------------------------------

def _span(i, start, end, parent=None):
    return tr.Span(i, f"s{i}", None, start, end, parent, "t")


def test_self_time_nested():
    spans = [_span(1, 0.0, 10.0), _span(2, 2.0, 5.0, 1),
             _span(3, 3.0, 4.0, 2)]
    kids = tr.children_of(spans)
    assert tr.self_time(spans[0], kids) == pytest.approx(7.0)
    assert tr.self_time(spans[1], kids) == pytest.approx(2.0)
    assert tr.self_time(spans[2], kids) == pytest.approx(1.0)
    assert [s.id for s in tr.descendants(spans[0], kids)] == [2, 3]


def test_self_time_concurrent_children_counted_once():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 6.0, 1),
             _span(3, 4.0, 9.0, 1), _span(4, 4.5, 5.0, 1)]
    kids = tr.children_of(spans)
    assert tr.self_time(spans[0], kids) == pytest.approx(2.0)


def test_covered_clips_to_parent():
    assert tr.covered([(-5.0, 2.0), (8.0, 20.0)], 0.0, 10.0) == \
        pytest.approx(4.0)
    assert tr.covered([(11.0, 12.0)], 0.0, 10.0) == 0.0


def test_pool_thread_spans_attach_to_dispatching_span():
    rec = tr.Recorder()
    barrier = threading.Barrier(2)

    def child(_):
        sp = rec.begin("child")
        barrier.wait(timeout=10)
        rec.end(sp)
    parent = rec.begin("parent")
    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(child, range(2)))
    rec.end(parent)
    kids = tr.children_of(rec.spans)
    children = [s for s in rec.spans if s.name == "child"]
    assert len(children) == 2
    assert all(s.parent == parent.id for s in children)
    assert len({s.thread for s in children}) == 2
    # the two children overlap: self time counts their union once
    assert tr.self_time(parent, kids) < parent.end - parent.start - \
        min(c.end - c.start for c in children) + 1e-9


def test_wrap_records_and_passes_through():
    rec = tr.Recorder()

    class Store:
        name = "st"

        def merge(self, x):
            if x < 0:
                raise ValueError(x)
            return x * 2
    traced = tr.wrap(rec, Store.merge, "matrel.merge",
                     lambda a: a[0].name)
    assert traced(Store(), 4) == 8
    with pytest.raises(ValueError):
        traced(Store(), -1)
    assert [(s.name, s.label) for s in rec.spans] == \
        [("matrel.merge", "st")] * 2
    assert all(s.end is not None for s in rec.spans)


# -- output checks reject wrong answers ------------------------------------------------

@pytest.fixture
def fanout():
    ref = checks.FanoutRef()
    ref.add(gen.fanout_batch(1, 0))
    plain = [{"k": k, "n": n, "s": s, "a": s / n, "mn": mn, "mx": mx}
             for k, (n, s, mn, mx) in ref.plain.items()]
    sw = [{"k": k, "n": p[0], "s": p[1]} for k, p in ref.plain.items()]
    hll = [{"region": g, "du": len(u)} for g, u in ref.users.items()]
    joined = [{"grp": g, "n": n, "s": s} for g, (n, s) in ref.joined.items()]
    cascade = [{"dn": ref.rows}]
    return ref, {"plain": plain, "sw": sw, "hll": hll, "joined": joined,
                 "cascade": cascade}


FANOUT_CHECKS = {"plain": checks.check_plain, "sw": checks.check_sw,
                 "hll": checks.check_hll, "joined": checks.check_joined,
                 "cascade": checks.check_cascade}


def test_fanout_checks_accept_right_answers(fanout):
    ref, answers = fanout
    for name, check in FANOUT_CHECKS.items():
        assert check(answers[name], ref) == [], name


@pytest.mark.parametrize("name, field, delta", [
    ("plain", "n", 1), ("plain", "s", 1.0), ("plain", "a", 0.5),
    ("plain", "mx", 1.0), ("sw", "s", -1.0), ("joined", "n", 1),
    ("cascade", "dn", -1)])
def test_fanout_checks_reject_wrong_values(fanout, name, field, delta):
    ref, answers = fanout
    rows = [dict(r) for r in answers[name]]
    rows[0][field] += delta
    assert FANOUT_CHECKS[name](rows, ref)


@pytest.mark.parametrize("name", ["plain", "sw", "hll", "joined"])
def test_fanout_checks_reject_missing_rows(fanout, name):
    ref, answers = fanout
    assert FANOUT_CHECKS[name](answers[name][1:], ref)


def test_hll_check_bound(fanout):
    ref, answers = fanout
    rows = [dict(r) for r in answers["hll"]]
    true = rows[0]["du"]
    rows[0]["du"] = true * (1 + checks.HLL_REL_BOUND / 2)
    assert checks.check_hll(rows, ref) == []
    rows[0]["du"] = true * (1 + 2 * checks.HLL_REL_BOUND) + 2
    assert checks.check_hll(rows, ref)


@pytest.fixture
def sketch():
    ref = checks.SketchRef()
    ref.add(gen.sketch_batch(1, 0))
    rows = []
    for k, vs in ref.values.items():
        xs = sorted(vs)
        n = len(xs)
        mean = sum(xs) / n
        sd = (sum((v - mean) ** 2 for v in xs) / (n - 1)) ** 0.5
        rows.append({"k": k, "n": n, "a": mean, "sd": sd,
                     "p90": xs[min(n - 1, int(0.9 * n))]})
    topk = [(k, [i for i, _ in c.most_common(checks.TOPK)])
            for k, c in ref.items.items()]
    return ref, rows, topk


def test_sketch_checks_accept_right_answers(sketch):
    ref, rows, topk = sketch
    assert checks.check_tdigest(rows, ref) == []
    assert checks.check_topk(topk, ref) == []


@pytest.mark.parametrize("field, how", [
    ("n", lambda r: r["n"] + 1), ("a", lambda r: r["a"] + 0.01),
    ("sd", lambda r: r["sd"] * 1.001), ("p90", lambda r: r["p90"] - 40.0),
    ("p90", lambda r: None)])
def test_tdigest_check_rejects_wrong_values(sketch, field, how):
    ref, rows, _ = sketch
    rows = [dict(r) for r in rows]
    rows[0][field] = how(rows[0])
    assert checks.check_tdigest(rows, ref)


def test_topk_check_rejects_missing_heavy_hitter(sketch):
    ref, _, topk = sketch
    k, items = topk[0]
    heavy = ref.items[k].most_common(1)[0][0]
    bad = [(k, [i for i in items if i != heavy])] + topk[1:]
    assert checks.check_topk(bad, ref)


@pytest.fixture
def reads():
    ref = checks.ReadRef()
    ref.add(gen.read_preload(1)[:2000])
    rows, key = gen.read_batch(1, 1)
    ref.add(rows)
    top = [{"k": k, "region": g, "n": n}
           for (k, g), n in ref.n.most_common(10)]
    point = [{"n": ref.n[key], "s": ref.s[key]}]
    window = [{"region": g, "n": v[0]} for g, v in ref.by_region().items()]
    rollup = [{"region": g, "n": v[0], "s": v[1]}
              for g, v in ref.by_region().items()]
    return ref, key, top, point, window, rollup


def test_read_checks_accept_right_answers(reads):
    ref, key, top, point, window, rollup = reads
    assert checks.check_top(top, ref) == []
    assert checks.check_point(point, ref, key) == []
    assert checks.check_window(window, ref) == []
    assert checks.check_rollup(rollup, ref) == []


def test_read_checks_reject_wrong_answers(reads):
    ref, key, top, point, window, rollup = reads
    assert checks.check_top(top[1:], ref)
    swapped = [dict(r) for r in top]
    swapped[0]["k"] = "k-nope"
    assert checks.check_top(swapped, ref)
    assert checks.check_point([{"n": point[0]["n"] - 1,
                                "s": point[0]["s"]}], ref, key)
    assert checks.check_point([], ref, key)
    assert checks.check_window(window[1:], ref)
    bad = [dict(r) for r in rollup]
    bad[0]["s"] += 1.0
    assert checks.check_rollup(bad, ref)


def test_dedup_check():
    docs, planted = gen.dedup_batch(1, 0)
    n = len(docs)
    assert checks.check_dedup(set(planted), planted, n, n - len(planted)) == []
    missed = set(sorted(planted)[1:])
    assert checks.check_dedup(missed, planted, n, n - len(missed))
    fresh = next(d for d, _ in docs if d not in planted)
    extra = planted | {fresh}
    assert checks.check_dedup(extra, planted, n, n - len(extra))
    assert checks.check_dedup(set(planted), planted, n, n)
