"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes (100 TB):

* **exact**: md5(text) groupBy — one shuffle keyed by a 128-bit hash,
  uniformly distributed so no skew; Catalyst does map-side partial
  counts.
* **jaccard_pairs**: exact all-pairs via shingle inverted index
  (explode → self-join on shingle).  Quadratic in near-dup cluster
  size but linear in corpus for the index; use for verification and
  small candidate sets.  At corpus scale, run `lsh_candidates` first
  and feed only candidates here.
* **minhash_lsh**: the scale path — per-doc signature of K minhashes
  (one pass, xxhash64, JVM-only), banded into B buckets; candidate
  pairs only join within a band bucket.  Shuffle is keyed by
  (band, bucket-hash): cardinality ≈ docs×B, uniform.
* **simhash**: 64-bit weighted-sign fingerprint; near-dups differ in
  ≤ d bits.  Emitted as a column; banding over bit-chunks gives the
  same LSH-style candidate generation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams as an array column (JVM-only).

    The r13 linear-time chained-zip shape (functions/ngrams.py) —
    the previous index-transform did `F.slice(ws, i + 1, n)` inside
    the lambda, and Catalyst re-evaluates the whole split per element
    (O(len²) per document, r13 scale finding); it also fed
    `F.sequence(0, size - n)` unguarded, which DESCENDS for docs
    shorter than n tokens and made slice trap on a 0 start index.
    Gram strings are identical (chained space-joins)."""
    from pipelinedb_spark.functions.ngrams import chained_ngrams
    return F.array_distinct(chained_ngrams(F.split(text, " "), n, " "))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact dedup via content hash: one row per distinct content with
    its count and canonical (minimum) id."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("fp"))
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("canonical_id")))


def _batch_token_hashes(texts):
    """Vectorized token hashing for one Arrow batch: split each text
    once, then hash EVERY token of the batch in a single
    ``pd.util.hash_array`` call (cython siphash with a fixed key —
    deterministic across processes; ``categorize=True`` factorizes the
    batch vocabulary so each distinct token is hashed once).  Replaces
    the former per-token ``zlib.crc32`` Python loop, which was the
    per-core throughput ceiling of the dedup scan.  Returns the flat
    uint64 hash array plus per-doc offsets (offs[i]:offs[i+1])."""
    import numpy as np
    import pandas as pd

    tok_lists = [t.split(" ") if isinstance(t, str) else []
                 for t in texts]
    lens = np.fromiter((len(ts) for ts in tok_lists), dtype=np.int64,
                       count=len(tok_lists))
    offs = np.zeros(len(tok_lists) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    total = int(offs[-1])
    if total == 0:
        return np.empty(0, dtype=np.uint64), offs
    flat = np.empty(total, dtype=object)
    pos = 0
    for ts in tok_lists:
        flat[pos:pos + len(ts)] = ts
        pos += len(ts)
    th = pd.util.hash_array(flat, categorize=True).astype(np.uint64)
    return th, offs


def _batch_grams(texts, shingle_n, pos_mult, c1):
    """Fully-vectorized distinct gram hashes for a whole Arrow batch:
    one flat token-hash pass, ONE polynomial combine over the flat
    token array (cross-doc shingles masked by a doc-index compare),
    murmur finalize, then per-doc dedup via a single lexsort — no
    per-doc Python/numpy-call loop at all.  Profiling showed the
    per-doc loop's numpy call overhead (~16 µs × docs), not token
    hashing, was the kernel's per-core ceiling.  Returns (doc_index,
    gram_hash) arrays sorted by doc index; docs shorter than one
    shingle simply emit nothing."""
    import numpy as np

    th, offs = _batch_token_hashes(texts)
    nd = len(texts)
    n = len(th)
    m = n - shingle_n + 1
    if m <= 0:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64))
    g = np.zeros(m, dtype=np.uint64)
    for j in range(shingle_n):
        g += th[j: m + j] * pos_mult[j]
    g ^= g >> np.uint64(33)
    g = g * c1
    g ^= g >> np.uint64(29)
    tok_doc = np.repeat(np.arange(nd, dtype=np.int64), np.diff(offs))
    valid = tok_doc[:m] == tok_doc[shingle_n - 1: n]
    g = g[valid]
    gdoc = tok_doc[:m][valid]
    order = np.lexsort((g, gdoc))
    g = g[order]
    gdoc = gdoc[order]
    if len(g):
        keep = np.ones(len(g), dtype=bool)
        keep[1:] = (g[1:] != g[:-1]) | (gdoc[1:] != gdoc[:-1])
        g = g[keep]
        gdoc = gdoc[keep]
    return gdoc, g


def _gram_hash_mapper(shingle_n: int):
    """Arrow-batched exploded (doc_id, gram-hash) index: batch-wide
    vectorized token hashing (_batch_token_hashes), consecutive-token
    polynomial combine + murmur finalizer vectorized, np.unique dedup.
    Same reasoning as _minhash_text_mapper: Catalyst HOF shingling
    runs interpreted and dominates the scan."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(0x5EED ^ 0x9A55)
    pos_mult = (rng.randint(1, 2 ** 63, size=shingle_n,
                            dtype=np.uint64) | np.uint64(1))
    c1 = np.uint64(0xFF51AFD7ED558CCD)

    def gen(batches):
        old = np.seterr(over="ignore")
        try:
            for pdf in batches:
                gdoc, g = _batch_grams(pdf["text"], shingle_n,
                                       pos_mult, c1)
                if len(g):
                    yield pd.DataFrame({
                        "doc_id": pdf["doc_id"].to_numpy()[gdoc],
                        "s": g.astype(np.int64)})
        finally:
            np.seterr(**old)

    return gen


def _gram_array_mapper(shingle_n: int):
    """Arrow-batched per-doc gram-hash ARRAYS: the same `_batch_grams`
    pass as `_gram_hash_mapper` (identical seed, so gram identities are
    bit-compatible with `shingle_index`), but emitted as one sorted
    distinct int64 array per document instead of exploded rows — the
    shape `lsh_verified_pairs` consumes with a native
    `array_intersect` per candidate pair.  Docs shorter than one
    shingle emit nothing (exactly the rows the exploded index would
    not have)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(0x5EED ^ 0x9A55)
    pos_mult = (rng.randint(1, 2 ** 63, size=shingle_n,
                            dtype=np.uint64) | np.uint64(1))
    c1 = np.uint64(0xFF51AFD7ED558CCD)

    def gen(batches):
        old = np.seterr(over="ignore")
        try:
            for pdf in batches:
                nd = len(pdf["text"])
                gdoc, g = _batch_grams(pdf["text"], shingle_n,
                                       pos_mult, c1)
                if nd == 0 or not len(g):
                    continue
                counts = np.bincount(gdoc, minlength=nd)
                arrs = np.split(g.astype(np.int64),
                                np.cumsum(counts)[:-1])
                mask = counts > 0
                ids = pdf["doc_id"].to_numpy()
                yield pd.DataFrame({
                    "doc_id": ids[mask],
                    "grams": [a for a, m in zip(arrs, mask) if m]})
        finally:
            np.seterr(**old)

    return gen


def gram_array_index(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, sorted distinct gram-hash array) — one row per doc with at
    least one n-gram; gram hashes identical to ``shingle_index``'s."""
    from . import spread_input
    src = spread_input(df.select(F.col(id_col).alias("doc_id"),
                                 F.col(text_col).alias("text")))
    out_schema = T.StructType([
        T.StructField("doc_id", src.schema["doc_id"].dataType),
        T.StructField("grams", T.ArrayType(T.LongType()))])
    return src.mapInPandas(_gram_array_mapper(n), out_schema)


def shingle_index(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  hashed: bool = True) -> DataFrame:
    """(id, shingle) inverted index.  ``hashed`` (default) replaces
    the shingle string with a 64-bit gram hash — 8-byte join/shuffle
    keys instead of ~20-byte strings, produced by the vectorized
    Arrow kernel (collision odds ~(S²/2⁶⁴): irrelevant next to the
    sketch error of any downstream use)."""
    if hashed:
        from . import spread_input
        src = spread_input(df.select(F.col(id_col).alias("doc_id"),
                                     F.col(text_col).alias("text")))
        out_schema = T.StructType([
            T.StructField("doc_id", src.schema["doc_id"].dataType),
            T.StructField("s", T.LongType())])
        return src.mapInPandas(_gram_hash_mapper(n), out_schema)
    s = F.explode(word_shingles(F.col(text_col), n)).alias("s")
    return df.select(F.col(id_col).alias("doc_id"), s)


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    intersection via shingle self-join; |A∪B| = |A|+|B|-|A∩B|.
    Deterministic: integer counts → double division.
    """
    # materialize the gram kernel once AS PER-DOC ARRAYS: the index
    # feeds both self-join sides (exploded — same 16-byte rows as the
    # former shingle_index shape) and the per-doc gram-set size, which
    # is a free `F.size(grams)` projection (same gram hashes —
    # gram_array_index shares shingle_index's kernel seed; r15 §9)
    g = gram_array_index(df, id_col, text_col, n) \
        .localCheckpoint(eager=False)
    sh = g.select("doc_id", F.size("grams").alias("sz"),
                  F.explode("grams").alias("s"))
    a = sh.alias("a")
    # the exploded shingle index scales with the corpus — broadcasting
    # it (Spark's pick under the 64 MB threshold at small SF) is the
    # wrong plan at any scale; pin the shuffle-hash join on the 8-byte
    # hashed-shingle keys
    b = sh.alias("b").hint("shuffle_hash")
    # SIZE PREFILTER (r16; guide §2.3 shuffle fewer bytes): J(x,y) =
    # |x∩y|/|x∪y| ≤ min(|x|,|y|)/max(|x|,|y|), so J ≥ t needs
    # t·|x| ≤ |y| and t·|y| ≤ |x| — checked per emitted join row from
    # the riding sizes, BEFORE the pair aggregation exchange.  Exact
    # (never drops a qualifying pair); the (1−1e-9) slack makes the
    # real-arithmetic bound safe against the final filter's own
    # double rounding.  sf10: 126.6M → 96.5M rows into the agg, the
    # query's dominant exchange (measured 30.0 → 23.8 s best-of-3).
    ts = threshold * (1.0 - 1e-9)
    cond = ((F.col("a.s") == F.col("b.s")) &
            (F.col("a.doc_id") < F.col("b.doc_id")) &
            (F.col("a.sz") * ts <= F.col("b.sz")) &
            (F.col("b.sz") * ts <= F.col("a.sz")))
    # sizes ride the aggregation (constant per doc, so max() is just
    # "the value") instead of being joined back on afterwards: the
    # post-agg size joins were broadcasts at bench SF but corpus-sized
    # exchanges of the pair table at real scale — two shuffles gone
    # for +16 bytes per pre-agg row.
    inter = (a.join(b, cond)
             .groupBy(F.col("a.doc_id").alias("d1"),
                      F.col("b.doc_id").alias("d2"))
             .agg(F.count("*").alias("inter"),
                  F.max(F.col("a.sz")).alias("sz1"),
                  F.max(F.col("b.sz")).alias("sz2")))
    j = inter.withColumn("jaccard",
                         F.col("inter").cast("double") /
                         (F.col("sz1") + F.col("sz2") - F.col("inter")))
    return (j.filter(F.col("jaccard") >= threshold)
            .select("d1", "d2", "jaccard"))


def _minhash_text_mapper(num_hashes: int, shingle_n: int,
                         bands: int = 0):
    """Arrow-batched signature kernel over raw text: the whole batch's
    tokens hash in one vectorized call (_batch_token_hashes —
    deterministic, no interpreter salt), consecutive-token gram hashes
    combine vectorized (odd-multiplier polynomial + murmur finalizer,
    wrapping uint64), then one numpy broadcast computes all K
    seeded-rehash minima.  Shingling deliberately does NOT run as
    Catalyst higher-order functions: HOF lambdas are interpreted per
    element (no codegen inside transform/slice/array_join — measured
    ~4× slower than this kernel for the whole signature)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(0x5EED)
    mult = rng.randint(1, 2 ** 63, size=num_hashes,
                       dtype=np.uint64) | np.uint64(1)
    add = rng.randint(0, 2 ** 63, size=num_hashes, dtype=np.uint64)
    c1 = np.uint64(0xFF51AFD7ED558CCD)
    # odd multipliers make the positional combine bijective per slot
    pos_mult = (rng.randint(1, 2 ** 63, size=shingle_n,
                            dtype=np.uint64) | np.uint64(1))
    rows_per_band = num_hashes // bands if bands else 0
    band_mult = (rng.randint(1, 2 ** 63, size=max(rows_per_band, 1),
                             dtype=np.uint64) | np.uint64(1))

    def gen(batches):
        old = np.seterr(over="ignore")
        try:
            for pdf in batches:
                nd = len(pdf["text"])
                if nd == 0:
                    continue  # empty Arrow batch: counts.max() below
                    # would raise on a zero-length array
                gdoc, g = _batch_grams(pdf["text"], shingle_n,
                                       pos_mult, c1)
                # docs shorter than one shingle get the sentinel gram 0
                counts = np.bincount(gdoc, minlength=nd) \
                    if len(gdoc) else np.zeros(nd, dtype=np.int64)
                missing = np.flatnonzero(counts == 0)
                if len(missing):
                    gdoc = np.concatenate([gdoc, missing])
                    g = np.concatenate(
                        [g, np.zeros(len(missing), dtype=np.uint64)])
                    order = np.argsort(gdoc, kind="stable")
                    gdoc, g = gdoc[order], g[order]
                    counts[missing] = 1
                starts = np.zeros(nd, dtype=np.int64)
                np.cumsum(counts[:-1], out=starts[1:])
                # all K seeded-rehash minima for the WHOLE batch:
                # doc-aligned gram chunks build the (grams × K) murmur
                # matrix IN PLACE into one reusable ≲32 MB buffer (no
                # per-chunk temporaries / fresh page-faulted
                # allocations), then a cython groupby-min collapses
                # each chunk to per-doc signatures (measured ~5× over
                # np.minimum.reduceat, which walks 2-D segments in a
                # Python-level inner loop)
                sig_mat = np.empty((nd, num_hashes), dtype=np.uint64)
                chunk_grams = 65536
                # a chunk spans ≤ chunk_grams plus its last doc's grams
                buf = np.empty((min(chunk_grams + int(counts.max()),
                                    len(g)), num_hashes),
                               dtype=np.uint64)
                d0 = 0
                while d0 < nd:
                    d1 = d0 + 1
                    g0 = starts[d0]
                    while d1 < nd and starts[d1] - g0 < chunk_grams:
                        d1 += 1
                    g1 = starts[d1] if d1 < nd else len(g)
                    x = buf[: g1 - g0]
                    np.multiply(g[g0:g1, None], mult[None, :], out=x)
                    x += add[None, :]
                    x ^= x >> np.uint64(33)
                    x *= c1
                    x ^= x >> np.uint64(29)
                    sig_mat[d0:d1] = (pd.DataFrame(x)
                                      .groupby(gdoc[g0:g1], sort=True)
                                      .min().to_numpy())
                    d0 = d1
                out = {"doc_id": pdf["doc_id"].values,
                       "sig": list(sig_mat.astype(np.int64))}
                if bands:
                    b = (sig_mat.reshape(nd, bands, rows_per_band)
                         * band_mult[None, None, :]).sum(axis=2)
                    b ^= b >> np.uint64(33)
                    b = b * c1
                    b ^= b >> np.uint64(29)
                    out["buckets"] = list(b.astype(np.int64))
                yield pd.DataFrame(out)
        finally:
            np.seterr(**old)

    return gen


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 64,
                       shingle_n: int = 3) -> DataFrame:
    """Array of K minhash values over word shingles, computed entirely
    in one Arrow-batched numpy kernel (deterministic, no RNG state at
    runtime).  Zero shuffle at real scale: the signature is computed
    in the same scan that read the text (spread_input fires only when
    the scan has fewer splits than cores)."""
    from . import spread_input
    src = spread_input(df.select(F.col(id_col).alias("doc_id"),
                                 F.col(text_col).alias("text")))
    out_schema = T.StructType([
        T.StructField("doc_id", src.schema["doc_id"].dataType),
        T.StructField("sig", T.ArrayType(T.LongType()))])
    return src.mapInPandas(_minhash_text_mapper(num_hashes, shingle_n),
                           out_schema)


def lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", num_hashes: int = 64,
                   bands: int = 16, shingle_n: int = 3,
                   max_bucket_size: int | None = None) -> DataFrame:
    """MinHash-LSH candidate pairs: band the K-wide signature into
    `bands` rows of K/bands values; docs sharing any banded bucket are
    candidates.  Returns distinct (d1 < d2) pairs with the estimated
    Jaccard from full-signature agreement.

    ``max_bucket_size`` is the SKEW GUARD for boilerplate-heavy
    corpora: a hot (band, bucket) with B members emits B²/2 pairs —
    1k identical docs is ~500k pairs per band.  Buckets larger than
    the cap switch to STAR pairing (the bucket's min doc id paired
    with every other member): per-bucket output drops to B-1 rows
    while CONNECTED-COMPONENT structure is preserved exactly, which
    is what downstream dedup clustering consumes.  Pairwise
    completeness inside oversized buckets is intentionally given up —
    same bounded-state trade FSS top-k makes.  None (default) keeps
    exact all-pairs output (the oracle shape)."""
    import os

    from .similarity import _plan_size_bytes

    sigs = _lsh_signature_frame(df, id_col, text_col, num_hashes,
                                bands, shingle_n)
    # Shape gate (r16; guide §2.3 shuffle fewer bytes): carrying both
    # signatures through the band join puts ``bands`` copies of every
    # doc's K·8-byte signature through the join exchange — ~8.6 GB at
    # sf10 (500k docs × 16 bands × 512 B × 2 sides) to move 365k
    # candidate pairs.  Above the gate, the band join dedups BARE id
    # pairs (24-byte rows) and the two signatures join back from the
    # already-materialized `sigs` frame — one docs×512 B exchange per
    # side, a ~16× byte cut on the dominant shuffle.  Below the gate
    # the r15 measurement stands (carry-sig 1.72 s vs 2.61 s at
    # sf0.1: two extra join stages cost more than the tiny shuffle
    # saves) and the plan is byte-unchanged.
    cap = int(os.environ.get("SPARK_GRAFT_LSH_CARRY_SIG_CAP",
                             str(8 << 20)))
    if _plan_size_bytes(df) > cap:
        cands = _band_candidate_pairs(sigs, max_bucket_size,
                                      carry_sig=False)
        s1 = sigs.select(F.col("doc_id").alias("d1"),
                         F.col("sig").alias("sig1"))
        s2 = sigs.select(F.col("doc_id").alias("d2"),
                         F.col("sig").alias("sig2"))
        cands = cands.join(s1, "d1").join(s2, "d2")
    else:
        cands = _band_candidate_pairs(sigs, max_bucket_size,
                                      carry_sig=True)
    est = F.size(F.filter(F.zip_with("sig1", "sig2", lambda x, y: x == y),
                          lambda eq: eq)) / F.lit(float(num_hashes))
    return cands.select("d1", "d2", est.alias("est_jaccard"))


def _lsh_signature_frame(df: DataFrame, id_col: str, text_col: str,
                         num_hashes: int, bands: int,
                         shingle_n: int) -> DataFrame:
    """Signatures + per-band buckets out of one Arrow kernel pass,
    materialized once — the band self-join would otherwise run the
    whole shingle+hash pipeline for both sides."""
    from . import spread_input
    src = spread_input(df.select(F.col(id_col).alias("doc_id"),
                                 F.col(text_col).alias("text")))
    out_schema = T.StructType([
        T.StructField("doc_id", src.schema["doc_id"].dataType),
        T.StructField("sig", T.ArrayType(T.LongType())),
        T.StructField("buckets", T.ArrayType(T.LongType()))])
    return (src.mapInPandas(
        _minhash_text_mapper(num_hashes, shingle_n, bands=bands),
        out_schema).localCheckpoint(eager=False))


def _band_candidate_pairs(sigs: DataFrame,
                          max_bucket_size: int | None,
                          carry_sig: bool) -> DataFrame:
    """Distinct (d1 < d2) candidate pairs from the banded bucket
    self-join (``carry_sig`` additionally rides both signatures for
    the est-jaccard path; the verified path dedups bare id pairs —
    ~1 KB/row less through the join and dedup shuffles)."""
    sig_cols = ["sig"] if carry_sig else []
    banded = sigs.select("doc_id", *sig_cols,
                         F.posexplode("buckets").alias("band", "bucket"))
    # the banded table scales with the corpus (docs × bands): Spark's
    # broadcast pick under the threshold at small SF is the wrong plan
    # at any real scale — pin the shuffle-hash join on (band, bucket),
    # exactly as jaccard_pairs pins its shingle self-join
    if max_bucket_size is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("band", "bucket")
        banded = (banded
                  .withColumn("__r", F.row_number().over(
                      w.orderBy("doc_id")))
                  .withColumn("__n", F.count("*").over(w)))
    a = banded.alias("a")
    b = banded.alias("b").hint("shuffle_hash")
    cond = ((F.col("a.band") == F.col("b.band")) &
            (F.col("a.bucket") == F.col("b.bucket")) &
            (F.col("a.doc_id") < F.col("b.doc_id")))
    if max_bucket_size is not None:
        # small bucket → all pairs; oversized → star around the min id
        cond = cond & ((F.col("a.__n") <= max_bucket_size) |
                       (F.col("a.__r") == 1))
    sel = [F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")]
    if carry_sig:
        sel += [F.col("a.sig").alias("sig1"), F.col("b.sig").alias("sig2")]
    return a.join(b, cond).select(*sel).dropDuplicates(["d1", "d2"])


def lsh_verified_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", threshold: float = 0.5,
                       num_hashes: int = 64, bands: int = 16,
                       shingle_n: int = 3,
                       max_bucket_size: int | None = None) -> DataFrame:
    """The production near-dup pipeline: MinHash-LSH candidate
    generation followed by EXACT n-gram Jaccard verification of only
    the candidate docs.  Returns (d1, d2, jaccard ≥ threshold).

    Scale shape: LSH prunes the O(N²) pair space to candidates
    (shuffle ∝ docs×bands); the exact gram verification then touches
    candidate docs only — at 100 TB that is the difference between an
    impossible all-pairs join and a small verification join.  With
    bands=16/rows=4, a true pair at the 0.5 threshold J=0.9 is missed
    with prob (1-0.9⁴)¹⁶ ≈ 4e-8; misses fall only near the threshold
    boundary (J≈0.5 → ~35%), matching reference topk/bloom-style
    approximation contracts."""
    sigs = _lsh_signature_frame(df, id_col, text_col, num_hashes,
                                bands, shingle_n)
    cands = (_band_candidate_pairs(sigs, max_bucket_size,
                                   carry_sig=False)
             .localCheckpoint(eager=False))
    cand_docs = (cands.select(F.col("d1").alias("__cid"))
                 .unionByName(cands.select(F.col("d2").alias("__cid")))
                 .distinct())
    # Exact verification over candidate docs only, as per-doc gram
    # ARRAYS (one Arrow pass, materialized once for both join sides)
    # joined onto each candidate pair and intersected with the native
    # `array_intersect` — |A∩B| and |A| on distinct-gram sets are the
    # same integers the former exploded-index self-join + groupBy +
    # two size joins computed (identical gram hashes — same kernel
    # seed as shingle_index), for two joins instead of five shuffle
    # stages (r15 §9; guide §1.2 fewer passes).
    g = (gram_array_index(df.join(cand_docs,
                                  F.col(id_col) == F.col("__cid"),
                                  "left_semi"),
                          id_col, text_col, shingle_n)
         .localCheckpoint(eager=False))
    g1 = g.select(F.col("doc_id").alias("d1"), F.col("grams").alias("__g1"))
    g2 = g.select(F.col("doc_id").alias("d2"), F.col("grams").alias("__g2"))
    j = (cands.join(g1, "d1").join(g2, "d2")
         .withColumn("__inter", F.size(F.array_intersect("__g1", "__g2")))
         .withColumn("jaccard",
                     F.col("__inter").cast("double") /
                     (F.size("__g1") + F.size("__g2") - F.col("__inter"))))
    # `__inter > 0` mirrors the exploded-index shape exactly: a
    # candidate pair sharing zero grams never produced an inter row
    # there, so it must not surface here either (visible only at
    # threshold 0.0)
    return (j.filter((F.col("__inter") > 0) &
                     (F.col("jaccard") >= threshold))
            .select("d1", "d2", "jaccard"))


def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs → (doc_id,
    cluster_id) with cluster_id = min doc id of the component, i.e.
    "keep one canonical doc per duplicate cluster".

    Min-label propagation WITH pointer jumping: each round every node
    first adopts the smallest label among itself and its neighbours,
    then jumps to its label's OWN label (path doubling) — labels
    reach the component minimum in O(log diameter) rounds instead of
    the plain recipe's O(diameter), so a chain of transitive
    near-dups hundreds of docs long (boilerplate families on a real
    crawl) converges inside the default budget rather than silently
    returning partial clusters (round-10 review: the old loop capped
    at 20 rounds with NO convergence signal — a 60-doc chain came
    back as several clusters).  Non-convergence now raises.  Two
    shuffles per round (neighbour-min groupBy + the jump self-join),
    both keyed by doc/cluster id; per-round localCheckpoints are
    released as soon as the next one materializes (the kcenter
    pattern — at most two label copies live in executor storage).

    One job per round (r16; guide §1.2 constant work): the
    convergence probe rides the round's own checkpoint
    materialization as an Observation counting rows whose label
    changed — the former separate new⋈old join + take(1) job (a full
    label-table comparison pass on the converging round) is gone.
    Labels are monotone non-increasing, so "no row changed" is still
    exactly the fixpoint test.
    """
    from pyspark.sql import Observation

    from .similarity import _release_local_checkpoint

    edges = (pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
             .unionByName(pairs.select(F.col("d2").alias("a"),
                                       F.col("d1").alias("b")))
             .distinct()
             .localCheckpoint(eager=True))
    labels = (edges.select(F.col("a").alias("doc_id"))
              .distinct()
              .withColumn("cluster_id", F.col("doc_id")))
    prev_ckpt = None
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (edges.join(labels, edges.b == labels.doc_id)
                        .groupBy(F.col("a").alias("doc_id"))
                        .agg(F.min("cluster_id").alias("nbr_min")))
        prop = (labels.join(neighbor_min, "doc_id", "left")
                .select("doc_id",
                        F.col("cluster_id").alias("__old"),
                        F.least(F.col("cluster_id"),
                                F.coalesce(F.col("nbr_min"),
                                           F.col("cluster_id")))
                        .alias("cluster_id")))
        # pointer jump: label <- the label's own label, looked up in
        # the PREVIOUS (already-checkpointed) table so the prop plan
        # with its groupBy evaluates once, not twice.  Every label
        # value is a node id present there, so the join is total;
        # least() keeps monotonicity, and the jump only accelerates —
        # the fixpoint/correctness argument is plain min-propagation's.
        obs = Observation()
        new_labels = (prop
                      .join(labels.select(
                          F.col("doc_id").alias("__p"),
                          F.col("cluster_id").alias("__pc")),
                          prop.cluster_id == F.col("__p"))
                      .select("doc_id",
                              F.least(F.col("cluster_id"),
                                      F.col("__pc"))
                              .alias("cluster_id"),
                              F.col("__old"))
                      .observe(obs, F.count_if(
                          F.col("cluster_id") < F.col("__old"))
                          .alias("chg"))
                      .drop("__old")
                      .localCheckpoint(eager=True))
        changed = int(obs.get["chg"])
        if prev_ckpt is not None:
            _release_local_checkpoint(prev_ckpt)
        prev_ckpt = new_labels
        labels = new_labels
        if not changed:
            converged = True
            break
    _release_local_checkpoint(edges)
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iterations} "
            "pointer-jumping rounds (component diameter would have to "
            f"exceed ~2^{max_iterations}); raise max_iterations")
    return labels


def simhash(text: Column, bits: int = 64) -> Column:
    """64-bit SimHash over whitespace tokens: sum token-hash bit signs,
    take the sign vector.  JVM-only via bit arithmetic on xxhash64.
    """
    ws = F.split(text, " ")
    hashes = F.transform(ws, lambda w: F.xxhash64(w))
    def vote_fn(mask):
        # closure factory — pyspark requires exactly-2-arg lambdas here
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, F.lit(1)).otherwise(F.lit(-1))

    bit_cols = []
    for i in range(bits):
        mask = 1 << i if i < 63 else -(1 << 63)
        # +1 when bit i set, -1 otherwise, summed over tokens
        vote = F.aggregate(hashes, F.lit(0).cast("long"), vote_fn(mask))
        bit_cols.append(F.when(vote > 0, F.lit(mask).cast("long"))
                        .otherwise(F.lit(0).cast("long")))
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out.bitwiseOR(c)
    return out


def _simhash_kernel(bits: int):
    """Arrow-batched SimHash: batch-wide token hashing
    (_batch_token_hashes), then ONE bit-unpack broadcast and ONE cython
    groupby-sum produce every doc's bit votes — no per-doc or per-bit
    Python/Catalyst work.  Replaces the Catalyst HOF formulation,
    which evaluated `bits` interpreted F.aggregate lambdas per doc
    (measured ~10× slower at 16 bits)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf(T.LongType())
    def k(texts):
        th, offs = _batch_token_hashes(texts)
        nd = len(texts)
        lens = np.diff(offs)
        shifts = np.arange(bits, dtype=np.uint64)
        bit_mat = ((th[:, None] >> shifts[None, :]) & np.uint64(1)) \
            .astype(np.int64)
        tok_doc = np.repeat(np.arange(nd, dtype=np.int64), lens)
        sums = pd.DataFrame(bit_mat).groupby(tok_doc, sort=True).sum()
        out = np.zeros(nd, dtype=np.uint64)
        present = sums.index.to_numpy()
        votes = 2 * sums.to_numpy() - lens[present][:, None]
        # pack in uint64 so bit 63 (the int64 sign bit) is just another
        # weight — the final view reinterprets the bits as long
        weights = np.uint64(1) << np.arange(bits, dtype=np.uint64)
        out[present] = ((votes > 0).astype(np.uint64) * weights).sum(axis=1)
        return pd.Series(out.view(np.int64))

    return k


def simhash_fast(text: Column, bits: int = 16) -> Column:
    """SimHash via the vectorized Arrow kernel at any width up to 64
    (default 16 — plenty for bucketing).  The 64-bit packing uses the
    int64 sign bit as bit 63 (uint64 accumulate, reinterpret as long).
    Note the kernel tokenizes identically to :func:`simhash` but hashes
    tokens with the batch siphash kernel rather than xxhash64, so the
    two variants implement the same public SimHash construction over
    different token-hash families; fingerprints are consistent within
    a variant, not across them.  Lower-width kernel outputs are the
    low bits of wider ones (per-bit votes don't depend on width)."""
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash width must be 1..64, got {bits}")
    return _simhash_kernel(bits)(text)


# ---------------------------------------------------------------------------
# Persisted incremental LSH index: the 100 TB production shape for
# corpus dedup — signatures/band buckets are computed ONCE per document
# and persisted; each new ingest batch probes (and appends to) the
# index without re-reading or re-signaturing the corpus.
# ---------------------------------------------------------------------------

def _banded_rows(df: DataFrame, id_col: str, text_col: str,
                 num_hashes: int, bands: int, shingle_n: int) -> DataFrame:
    """(doc_id, sig, band, bucket) rows for a document set — the
    shared signature pass behind persist/probe/append."""
    from . import spread_input
    src = spread_input(df.select(F.col(id_col).alias("doc_id"),
                                 F.col(text_col).alias("text")))
    out_schema = T.StructType([
        T.StructField("doc_id", src.schema["doc_id"].dataType),
        T.StructField("sig", T.ArrayType(T.LongType())),
        T.StructField("buckets", T.ArrayType(T.LongType()))])
    sigs = src.mapInPandas(
        _minhash_text_mapper(num_hashes, shingle_n, bands=bands),
        out_schema)
    return sigs.select(
        "doc_id", "sig", F.posexplode("buckets").alias("band", "bucket"))


def _write_band_rows(banded: DataFrame, target: str,
                     write_partitions: int | None) -> None:
    """partitionBy(band) write with REAL parallelism: hash-repartition
    on (band, bucket) into ``write_partitions`` tasks (default: the
    cluster's defaultParallelism) instead of ``repartition("band")``,
    which caps the whole corpus write at `bands` (=16) giant tasks.
    Hash, not range: repartitionByRange would sample the input and run
    the signature kernel twice.  Rows stay (band, bucket)-sorted
    within each task's files, so probes keep row-group min/max
    skipping on bucket inside each band dir."""
    if write_partitions is None:
        write_partitions = banded.sparkSession.sparkContext \
            .defaultParallelism
    (banded.repartition(write_partitions, "band", "bucket")
     .sortWithinPartitions("band", "bucket")
     .write.mode("overwrite").partitionBy("band").parquet(target))


def lsh_index_persist(df: DataFrame, path: str, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 64,
                      bands: int = 16, shingle_n: int = 3,
                      write_partitions: int | None = None) -> None:
    """Materialize a MinHash-LSH index: one (doc_id, sig, band, bucket)
    row per document per band, written partitionBy(band) with rows
    bucket-sorted inside each band dir (a probe's band join reads each
    band partition with row-group min/max skipping on bucket).  The
    store manifest pins the signature parameters — probes/appends
    with different parameters are rejected instead of silently
    producing garbage candidates.  Staged write + atomic manifest
    swap (indexstore): a rebuild keeps the old index readable until
    the new one commits."""
    from ..indexstore import IndexStore

    store = IndexStore(path)
    banded = _banded_rows(df, id_col, text_col, num_hashes, bands,
                          shingle_n)
    staged = store.stage()
    _write_band_rows(banded, staged, write_partitions)
    store.commit(staged, replace=True,
                 meta={"num_hashes": num_hashes, "bands": bands,
                       "shingle_n": shingle_n})


def _lsh_index_meta(path: str) -> dict:
    from ..indexstore import open_index

    return open_index(path).meta()


def lsh_index_probe(spark, path: str, new_docs: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text",
                    broadcast_max_bytes: int = 64 << 20) -> DataFrame:
    """Candidate near-dup pairs between ``new_docs`` and the INDEXED
    corpus: (corpus_id, new_id, est_jaccard).  Only the new batch is
    signatured; the corpus side is a pruned scan of the persisted
    band table — no corpus recompute, the incremental-ingest shape
    corpus-scale dedup needs.

    The batch side broadcasts only when its estimated size is under
    ``broadcast_max_bytes`` (the batch's band rows are materialized
    once and the row count rides that job as an Observation, so the
    gate costs no extra pass); a large backfill batch falls back to a
    pinned shuffle-hash join — force-broadcasting 10M docs × bands
    rows of 64-long signatures would OOM executors.  The corpus side
    never broadcasts."""
    from pyspark.sql import Observation

    from ..indexstore import open_index

    store = open_index(path)
    meta = store.meta()
    obs = Observation()
    probe = (_banded_rows(new_docs, id_col, text_col, meta["num_hashes"],
                          meta["bands"], meta["shingle_n"])
             .observe(obs, F.count(F.lit(1)).alias("n"))
             .localCheckpoint(eager=True))
    # ~8 bytes per signature value + ~48 bytes of id/band/bucket/overhead
    est_bytes = int(obs.get["n"]) * (8 * meta["num_hashes"] + 48)
    probe_side = probe.alias("p")
    probe_side = (probe_side.hint("broadcast")
                  if est_bytes <= broadcast_max_bytes
                  else probe_side.hint("shuffle_hash"))
    corpus = store.read(spark)
    cands = (corpus.alias("c")
             .join(probe_side,
                   (F.col("c.band") == F.col("p.band")) &
                   (F.col("c.bucket") == F.col("p.bucket")) &
                   (F.col("c.doc_id") != F.col("p.doc_id")))
             .select(F.col("c.doc_id").alias("corpus_id"),
                     F.col("p.doc_id").alias("new_id"),
                     F.col("c.sig").alias("sig1"),
                     F.col("p.sig").alias("sig2"))
             .dropDuplicates(["corpus_id", "new_id"]))
    est = F.size(F.filter(F.zip_with("sig1", "sig2", lambda x, y: x == y),
                          lambda eq: eq)) / F.lit(float(meta["num_hashes"]))
    return cands.select("corpus_id", "new_id", est.alias("est_jaccard"))


def lsh_index_append(spark, path: str, new_docs: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     write_partitions: int | None = None,
                     txn: tuple[str, int] | None = None) -> bool:
    """Add a batch's band rows to the index (dedup-then-admit flow:
    probe first, drop near-dups, append the survivors) in the same
    partitionBy(band) layout, parallelized like ``lsh_index_persist``
    (not capped at `bands` write tasks).  The batch stages under a
    temp prefix and commits via one atomic manifest swap — a
    mid-append crash leaves no partial band rows.  ``txn=(app_id,
    epoch)`` skips replayed streaming epochs (returns False)."""
    from ..indexstore import open_index

    store = open_index(path)
    if store.replayed(txn):
        return False
    if new_docs.isEmpty():      # empty epoch: tag only
        store.tag(txn=txn)
        return True
    meta = store.meta()
    banded = _banded_rows(new_docs, id_col, text_col, meta["num_hashes"],
                          meta["bands"], meta["shingle_n"])
    if banded.isEmpty():
        # row-less output (e.g. all-null texts): tag only — checked
        # BEFORE staging; see span_index_append for why the post-write
        # readback (and an Observation on the write) both fail here
        store.tag(txn=txn)
        return True
    staged = store.stage()
    _write_band_rows(banded, staged, write_partitions)
    store.commit(staged, replace=False, txn=txn)
    return True


def lsh_index_compact(spark, path: str,
                      write_partitions: int | None = None,
                      max_retries: int = 3) -> int:
    """Rewrite the live version dirs into ONE partitionBy(band),
    bucket-sorted dir via a replace-commit (old version readable
    until the swap; GC grace after).  The band rows are read back
    as-is — no re-signaturing.  Returns dirs compacted away.

    Pins the consumed dir snapshot (``expected_dirs``): concurrent
    appends stay live beside the new base; a concurrent
    replace-commit retries the rebuild (ADVICE r8)."""
    import os

    from ..indexstore import CommitConflict, open_index

    store = open_index(path)
    for _ in range(max_retries):
        paths = store.dirs()
        n_dirs = len(paths)
        if n_dirs <= 1:
            return 0
        banded = store.read_from(spark, paths)
        staged = store.stage()
        _write_band_rows(banded, staged, write_partitions)
        try:
            store.commit(staged, replace=True,
                         expected_dirs=[os.path.basename(p)
                                        for p in paths])
            return n_dirs
        except CommitConflict:
            continue
    raise CommitConflict(
        f"lsh_index_compact lost {max_retries} rebuild races "
        f"under {path}")


def dedup_keep_best(df: DataFrame, pairs: DataFrame, score_col: str,
                    id_col: str = "doc_id",
                    max_iterations: int = 20) -> DataFrame:
    """Canonical-selection dedup: given near-duplicate PAIRS (d1, d2),
    keep the BEST-scoring document of each duplicate cluster (ties
    break to the smallest id) plus every unpaired document — the
    "keep the highest-quality copy" policy real training-data
    pipelines apply, instead of min-id survivorship.

    Scale shape: clusters come from :func:`dedup_clusters` (min-label
    propagation, one shuffle per round); the selection is a window
    rank partitioned by cluster_id — duplicate clusters are tiny, so
    no skewed partition forms, and unpaired docs never enter the
    window at all (anti-join keeps them as a pass-through union)."""
    from pyspark.sql import Window

    labels = dedup_clusters(pairs, max_iterations=max_iterations)
    labeled = df.join(
        labels.withColumnRenamed("doc_id", id_col), id_col, "inner")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(score_col), F.asc(id_col))
    best = (labeled.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1).drop("__rk", "cluster_id"))
    unpaired = df.join(
        labels.withColumnRenamed("doc_id", id_col), id_col, "left_anti")
    return unpaired.unionByName(best)
