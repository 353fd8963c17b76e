"""Seeded input generators.  Pure Python: the program under test sees
only what these return, and the same (seed, workload, index) always
yields the same rows, independent of how many batches a run consumes.
"""

from __future__ import annotations

import random

# fanout: ~2k Python-list rows per insert, tiny key spaces
FANOUT_ROWS = 2000
FANOUT_KEYS = 200
FANOUT_DIM_KEYS = 150        # keys >= this have no dim row: the join drops them
FANOUT_GROUPS = 8
FANOUT_REGIONS = 5
FANOUT_USERS = 5000

# sketch_bulk: bulk DataFrame inserts over ~1k groups
SKETCH_ROWS = 10000
SKETCH_KEYS = 1000
SKETCH_ITEMS = 60

# read_mix: ~100k (k, region) groups preloaded, then small skewed inserts
READ_KEYS = 20000
READ_REGIONS = 5
READ_ROWS = 500

# sliding-window rows arrive j window steps before the run's anchor step,
# j in [0, SW_STEPS): a steadily fed '1 hour' window holds up to 20 steps
# of 180 s, and 18 leave two steps of slack so none expires mid-run
SW_STEPS = 18

# dedup_ingest: an indexed base corpus, then small doc batches of which
# DEDUP_PLANTED are near-copies of base docs
DEDUP_BASE = 400
DEDUP_ROWS = 100
DEDUP_PLANTED = 10
DEDUP_WORDS = 60
DEDUP_EDITS = 2          # words replaced in a near-copy: Jaccard ~0.8
DEDUP_VOCAB = 5000
DEDUP_BATCH_ID = 1_000_000


def _rng(seed: int, workload: str, part: str) -> random.Random:
    # str seeds hash through sha512: stable across runs and platforms
    return random.Random(f"{seed}:{workload}:{part}")


def fanout_dim() -> list[tuple[str, str]]:
    return [(f"k{i}", f"g{i % FANOUT_GROUPS}") for i in range(FANOUT_DIM_KEYS)]


def batch_step(seed: int, workload: str, i: int) -> int:
    """The window step (0 = the run's anchor step) batch ``i`` arrives in."""
    return _rng(seed, workload, f"step{i}").randrange(SW_STEPS)


def fanout_batch(seed: int, i: int) -> list[dict]:
    r = _rng(seed, "fanout", f"batch{i}")
    return [{"k": f"k{r.randrange(FANOUT_KEYS)}",
             "region": f"r{r.randrange(FANOUT_REGIONS)}",
             "v": float(r.randrange(1000)),
             "u": f"u{r.randrange(FANOUT_USERS)}"}
            for _ in range(FANOUT_ROWS)]


def sketch_batch(seed: int, i: int) -> list[tuple[str, str, float]]:
    r = _rng(seed, "sketch_bulk", f"batch{i}")
    out = []
    for _ in range(SKETCH_ROWS):
        # Pareto-ranked items: i1 is about half of every key's rows,
        # so each key has a heavy hitter the top-k sketch must keep
        item = int(r.paretovariate(1.0)) % SKETCH_ITEMS
        out.append((f"k{r.randrange(SKETCH_KEYS)}", f"i{item}",
                    round(r.gauss(100.0, 15.0), 3)))
    return out


def read_preload(seed: int) -> list[tuple[str, str, float, int]]:
    """One row per (k, region) group; the last field is its window step."""
    r = _rng(seed, "read_mix", "preload")
    return [(f"k{k}", f"r{g}", float(r.randrange(100)),
             r.randrange(SW_STEPS))
            for k in range(READ_KEYS) for g in range(READ_REGIONS)]


def read_batch(seed: int, i: int) -> tuple[list[tuple[str, str, float]],
                                           tuple[str, str]]:
    """One cycle's insert rows (Pareto-skewed keys) and the key its
    point lookup reads."""
    r = _rng(seed, "read_mix", f"batch{i}")
    rows = [(f"k{(int(r.paretovariate(1.2)) - 1) % READ_KEYS}",
             f"r{r.randrange(READ_REGIONS)}", float(r.randrange(100)))
            for _ in range(READ_ROWS)]
    k, g, _ = rows[r.randrange(len(rows))]
    return rows, (k, g)


def _words(r: random.Random, n: int) -> list[str]:
    return [f"w{r.randrange(DEDUP_VOCAB)}" for _ in range(n)]


def dedup_corpus(seed: int) -> list[tuple[int, str]]:
    r = _rng(seed, "dedup_ingest", "corpus")
    return [(d, " ".join(_words(r, DEDUP_WORDS))) for d in range(DEDUP_BASE)]


def dedup_batch(seed: int, i: int) -> tuple[list[tuple[int, str]], set[int]]:
    """One batch of (doc_id, text) and the ids of its planted near-copies
    of base docs; the other docs are fresh random text."""
    r = _rng(seed, "dedup_ingest", f"batch{i}")
    base = dedup_corpus(seed)
    first = DEDUP_BATCH_ID + i * DEDUP_ROWS
    planted = set(r.sample(range(first, first + DEDUP_ROWS), DEDUP_PLANTED))
    docs = []
    for d in range(first, first + DEDUP_ROWS):
        if d in planted:
            words = base[r.randrange(DEDUP_BASE)][1].split()
            for pos in r.sample(range(DEDUP_WORDS), DEDUP_EDITS):
                words[pos] = _words(r, 1)[0]
        else:
            words = _words(r, DEDUP_WORDS)
        docs.append((d, " ".join(words)))
    return docs, planted
