"""Python references for every workload and the checks that compare the
engine's answers against them.  Each ``check_*`` returns a list of
error strings; an empty list is a pass.  Inputs are plain Python values
(rows as dicts), so these run without Spark.
"""

from __future__ import annotations

import bisect
import math
from collections import Counter, defaultdict

from perfbench import gen

# count(DISTINCT) is rewritten to Spark's hll_sketch_agg at its default
# lgConfigK of 12; 4 standard errors of 1.04 / sqrt(2^12)
HLL_REL_BOUND = 4 * 1.04 / math.sqrt(2 ** 12)
# percentile_cont over a t-digest: allowed error in rank (fraction of n)
TDIGEST_RANK_BOUND = 0.05
FLOAT_REL = 1e-9
STDDEV_REL = 1e-6
TOPK = 5


def _close(a, b, rel=FLOAT_REL) -> bool:
    return a is not None and math.isclose(a, b, rel_tol=rel, abs_tol=rel)


# -- fanout -------------------------------------------------------------------

class FanoutRef:
    def __init__(self) -> None:
        self.rows = 0
        self.plain = defaultdict(lambda: [0, 0.0, math.inf, -math.inf])
        self.users = defaultdict(set)
        self.joined = defaultdict(lambda: [0, 0.0])
        self.dim = dict(gen.fanout_dim())

    def add(self, rows: list[dict]) -> None:
        self.rows += len(rows)
        for r in rows:
            p = self.plain[r["k"]]
            p[0] += 1
            p[1] += r["v"]
            p[2] = min(p[2], r["v"])
            p[3] = max(p[3], r["v"])
            self.users[r["region"]].add(r["u"])
            g = self.dim.get(r["k"])
            if g is not None:
                self.joined[g][0] += 1
                self.joined[g][1] += r["v"]


def check_plain(rows: list[dict], ref: FanoutRef) -> list[str]:
    got = {r["k"]: r for r in rows}
    errs = []
    if set(got) != set(ref.plain):
        errs.append(f"plain: key sets differ ({len(got)} vs {len(ref.plain)})")
    for k, (n, s, mn, mx) in ref.plain.items():
        r = got.get(k)
        if r is None:
            continue
        if (r["n"], r["s"], r["mn"], r["mx"]) != (n, s, mn, mx) \
                or not _close(r["a"], s / n):
            errs.append(f"plain[{k}]: got {dict(r)}, want n={n} s={s} "
                        f"mn={mn} mx={mx} a={s / n}")
    return errs


def check_sw(rows: list[dict], ref: FanoutRef) -> list[str]:
    got = {r["k"]: (r["n"], r["s"]) for r in rows}
    want = {k: (p[0], p[1]) for k, p in ref.plain.items()}
    return [] if got == want else [f"sw: {_diff(got, want)}"]


def check_hll(rows: list[dict], ref: FanoutRef) -> list[str]:
    got = {r["region"]: r["du"] for r in rows}
    errs = []
    if set(got) != set(ref.users):
        errs.append(f"hll: region sets differ {sorted(got)}")
    for g, users in ref.users.items():
        est, true = got.get(g), len(users)
        if est is None or abs(est - true) > HLL_REL_BOUND * true + 1:
            errs.append(f"hll[{g}]: estimate {est}, true {true}")
    return errs


def check_joined(rows: list[dict], ref: FanoutRef) -> list[str]:
    got = {r["grp"]: (r["n"], r["s"]) for r in rows}
    want = {g: tuple(v) for g, v in ref.joined.items()}
    return [] if got == want else [f"joined: {_diff(got, want)}"]


def check_cascade(rows: list[dict], ref: FanoutRef) -> list[str]:
    """The downstream CV sums the plain CV's delta counts, which must
    add up to every row inserted."""
    if len(rows) != 1 or rows[0]["dn"] != ref.rows:
        return [f"cascade: got {[dict(r) for r in rows]}, want dn={ref.rows}"]
    return []


# -- sketch_bulk ----------------------------------------------------------------

class SketchRef:
    def __init__(self) -> None:
        self.values = defaultdict(list)
        self.items = defaultdict(Counter)

    def add(self, rows: list[tuple[str, str, float]]) -> None:
        for k, item, v in rows:
            self.values[k].append(v)
            self.items[k][item] += 1


def check_tdigest(rows: list[dict], ref: SketchRef, q: float = 0.9) -> list[str]:
    got = {r["k"]: r for r in rows}
    errs = []
    if set(got) != set(ref.values):
        errs.append(f"tdigest: key sets differ ({len(got)} vs "
                    f"{len(ref.values)})")
    for k, vs in ref.values.items():
        r = got.get(k)
        if r is None:
            continue
        n = len(vs)
        mean = math.fsum(vs) / n
        sd = (math.sqrt(math.fsum((v - mean) ** 2 for v in vs) / (n - 1))
              if n > 1 else None)
        if r["n"] != n or not _close(r["a"], mean) or not (
                (sd is None and r["sd"] is None) or
                (sd is not None and _close(r["sd"], sd, STDDEV_REL))):
            errs.append(f"tdigest[{k}]: got n={r['n']} a={r['a']} "
                        f"sd={r['sd']}, want n={n} a={mean} sd={sd}")
            continue
        xs = sorted(vs)
        p = r["p90"]
        lo = bisect.bisect_left(xs, p) / n if p is not None else -1
        hi = bisect.bisect_right(xs, p) / n if p is not None else -1
        slack = TDIGEST_RANK_BOUND + 1.0 / n
        if not lo - slack <= q <= hi + slack:
            errs.append(f"tdigest[{k}]: p90={p} has rank [{lo:.3f}, "
                        f"{hi:.3f}], want {q} ± {slack:.3f}")
    return errs


def check_topk(rows: list[tuple[str, list[str]]], ref: SketchRef) -> list[str]:
    """``rows`` = (key, items the sketch ranks top-5).  Every item whose
    true count exceeds n / 5 (the Space-Saving guarantee) must be in
    the list."""
    got = dict(rows)
    errs = []
    if set(got) != set(ref.items):
        errs.append(f"topk: key sets differ ({len(got)} vs "
                    f"{len(ref.items)})")
    for k, counts in ref.items.items():
        n = sum(counts.values())
        heavy = {i for i, c in counts.items() if c > n / TOPK}
        missing = heavy - set(got.get(k) or [])
        if missing:
            errs.append(f"topk[{k}]: heavy hitters {sorted(missing)} "
                        f"missing from {got.get(k)}")
    return errs


# -- read_mix -------------------------------------------------------------------

class ReadRef:
    def __init__(self) -> None:
        self.n = Counter()
        self.s = defaultdict(float)

    def add(self, rows: list[tuple]) -> None:
        # preload rows carry their window step as a fourth field
        for k, g, v, *_ in rows:
            self.n[(k, g)] += 1
            self.s[(k, g)] += v

    def by_region(self) -> dict[str, tuple[int, float]]:
        out = defaultdict(lambda: [0, 0.0])
        for (_, g), n in self.n.items():
            out[g][0] += n
        for (_, g), s in self.s.items():
            out[g][1] += s
        return {g: tuple(v) for g, v in out.items()}


def check_top(rows: list[dict], ref: ReadRef, limit: int = 10) -> list[str]:
    """Ties at the cut make the key set ambiguous, so check the count
    list and that each returned key carries its true count."""
    want = sorted(ref.n.values(), reverse=True)[:limit]
    got = [r["n"] for r in rows]
    errs = []
    if got != want:
        errs.append(f"top: counts {got}, want {want}")
    for r in rows:
        if ref.n.get((r["k"], r["region"])) != r["n"]:
            errs.append(f"top: ({r['k']}, {r['region']}) n={r['n']}, "
                        f"want {ref.n.get((r['k'], r['region']))}")
    return errs


def check_point(rows: list[dict], ref: ReadRef, key: tuple[str, str]) -> list[str]:
    want = [(ref.n[key], ref.s[key])]
    got = [(r["n"], r["s"]) for r in rows]
    return [] if got == want else [f"point{key}: got {got}, want {want}"]


def check_window(rows: list[dict], ref: ReadRef) -> list[str]:
    """Every row's step is inside the window (gen.SW_STEPS), so the
    window holds all of them."""
    got = {r["region"]: r["n"] for r in rows}
    want = {g: v[0] for g, v in ref.by_region().items()}
    return [] if got == want else [f"window: {_diff(got, want)}"]


def check_rollup(rows: list[dict], ref: ReadRef) -> list[str]:
    got = {r["region"]: (r["n"], r["s"]) for r in rows}
    want = ref.by_region()
    return [] if got == want else [f"rollup: {_diff(got, want)}"]


# -- dedup_ingest ---------------------------------------------------------------

def check_dedup(flagged: set[int], planted: set[int], docs: int,
                scored: int) -> list[str]:
    """``flagged`` = ids the probe marked near-duplicate, ``scored`` =
    docs that reached quality_flags.  Every planted near-copy must be
    flagged, no fresh random doc may be, and every survivor is scored."""
    errs = []
    if planted - flagged:
        errs.append(f"dedup: planted near-dups not flagged: "
                    f"{sorted(planted - flagged)[:5]}")
    if flagged - planted:
        errs.append(f"dedup: fresh docs flagged: "
                    f"{sorted(flagged - planted)[:5]}")
    if scored != docs - len(flagged):
        errs.append(f"dedup: quality_flags scored {scored} docs, want "
                    f"{docs - len(flagged)}")
    return errs


def _diff(got: dict, want: dict, limit: int = 3) -> str:
    bad = [(k, got.get(k), want.get(k)) for k in sorted(set(got) | set(want))
           if got.get(k) != want.get(k)]
    return f"{len(bad)} keys differ, e.g. " + ", ".join(
        f"{k}: got {g} want {w}" for k, g, w in bad[:limit])
