"""Similarity search over embedding columns (array<float>).

Two paths:

* ``brute_force_topk`` — exact cosine top-k.  The *oracle-matched*
  variant computes dot products in exact decimal arithmetic so Spark
  and duckdb agree bitwise; the *fast* variant keeps everything in
  doubles via F.zip_with/F.aggregate (one broadcast join, no shuffle of
  the corpus side).
* ``lsh_bucketed_topk`` — the 100 TB path: deterministic random-
  hyperplane LSH signatures bucket the corpus (one scan, JVM-only
  bit ops); queries probe only their bucket (+ optional multiprobe),
  turning O(N·Q) into O(N/2^bits · Q) with a bucket-keyed shuffle.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..indexstore import IndexStore


def dot_double(a: Column, b: Column) -> Column:
    """Plain double dot product (fast path)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm2_double(a: Column) -> Column:
    return F.sqrt(dot_double(a, a))


def cosine_double(a: Column, b: Column) -> Column:
    return dot_double(a, b) / (norm2_double(a) * norm2_double(b))


# Scaled-integer exact dot product: components quantized once to
# 1e-8 (floor(x·1e8 + 0.5), exact on IEEE doubles in any engine), then
# pure long multiply/add — codegen-friendly where the former
# DECIMAL(18,9) formula ran on interpreted BigDecimal.  Value bounds:
# |x| ≤ 1 ⇒ component ≤ 1e8, product ≤ 1e16, 64-dim sum ≤ 6.4e17 —
# inside long range; the final long→double conversion is IEEE
# round-to-nearest, identical in Spark and duckdb, so the oracle
# matches bit-for-bit.
_DOT_SCALE = 1e8


def _quantized(v: Column) -> Column:
    return F.floor(v.cast("double") * F.lit(_DOT_SCALE) + F.lit(0.5)) \
        .cast("long")


def dot_exact(a: Column, b: Column) -> Column:
    """Order-independent exact dot product of 1e-8-quantized vectors;
    mirrors the duckdb oracle formula bit-for-bit (scale factored out
    by the cosine's normalization)."""
    prods = F.zip_with(a, b, lambda x, y: _quantized(x) * _quantized(y))
    return F.aggregate(prods, F.lit(0).cast("long"),
                       lambda acc, v: acc + v).cast("double")


def cosine_exact(a: Column, b: Column) -> Column:
    return dot_exact(a, b) / F.sqrt(dot_exact(a, a) * dot_exact(b, b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     exact: bool = True) -> DataFrame:
    """Exact cosine top-k: broadcast queries against the corpus, rank
    per query with a deterministic (cosine DESC, id ASC) tiebreak.
    The corpus is scanned once; no corpus-side shuffle before ranking.

    ``exact=True`` additionally tries the query-matrix kernel
    (:func:`_query_matrix_topk`): the collected, int64-quantized query
    matrix scores whole corpus batches with one numpy matmul and keeps
    a per-task top-k, so only tasks × Q × k candidate rows reach the
    final window instead of N × Q scored rows — the window's
    partitionBy(q_id) is Q partitions, the few-hot-reducers shape at
    corpus scale (guide §2.3).  Scores are bit-identical to the HOF
    fold (the §5 quantized-arithmetic contract), so the ranking — and
    the window's final total order — is unchanged; the kernel returns
    None (→ this join path) for non-integral ids, ragged/zero-norm
    queries, or an over-cap / unknown-size query side."""
    import os

    from . import spread_input
    corpus = spread_input(corpus)
    # corpus-size gate: the kernel's Arrow transfer + query-collect
    # job cost more than the interpreted folds save on a small corpus
    # (measured even at 20k vectors ≈ 5 MB estimate, 2.32 → 1.13 s at
    # 200k ≈ 52 MB); below the cap the join path stands unchanged
    min_bytes = int(os.environ.get(
        "SPARK_GRAFT_ANN_MATRIX_MIN_BYTES", str(16 * 1024 * 1024)))
    if exact and _plan_size_bytes(corpus) >= min_bytes:
        cand = _query_matrix_topk(corpus, queries, k, id_col, vec_col)
        if cand is not None:
            w = Window.partitionBy("q_id").orderBy(
                F.desc("cosine"), F.asc("n_id"))
            return (cand.withColumn("rk", F.row_number().over(w))
                    .filter(F.col("rk") <= k)
                    .select("q_id", "n_id", "rk", "cosine"))
    norm = dot_exact if exact else (lambda a, b: dot_double(a, b))
    q = queries.select(F.col(id_col).alias("q_id"),
                       F.col(vec_col).alias("q_vec"),
                       norm(F.col(vec_col), F.col(vec_col)).alias("q_n2"))
    c = corpus.select(F.col(id_col).alias("n_id"),
                      F.col(vec_col).alias("n_vec"),
                      norm(F.col(vec_col), F.col(vec_col)).alias("n_n2"))
    dot = dot_exact(F.col("q_vec"), F.col("n_vec")) if exact \
        else dot_double(F.col("q_vec"), F.col("n_vec"))
    # norms precomputed per vector (N + Q dot products instead of
    # 3·N·Q — the per-pair work is one dot product)
    cos = dot / F.sqrt(F.col("q_n2") * F.col("n_n2"))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("q_id") != F.col("n_id"))
              .select("q_id", "n_id", cos.alias("cosine")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", "n_id", "rk", "cosine"))


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a plan (driver-side, no job) — the
    same statistic autoBroadcastJoinThreshold gates on.  Unknown =
    effectively infinite, so callers fail toward the scalable path."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return 1 << 62


def _query_matrix_topk(corpus: DataFrame, queries: DataFrame, k: int,
                       id_col: str, vec_col: str) -> DataFrame | None:
    """Per-task exact top-k candidates for ``brute_force_topk``: the
    query side (small by contract — it is broadcast in the join path
    too) is collected once as an int64-quantized matrix; each corpus
    batch is scored with one integer matmul and only each task's
    top-k rows per query are emitted.  Returns (q_id, n_id, cosine)
    candidate rows — a SUPERSET of the global top-k, which the caller
    finishes with the same window as the join path.

    EXACTNESS (the `_broadcast_matrix_scores` contract): floor(x·1e8
    + 0.5) quantization, order-independent int64 dots (≤ 6.4e17 <
    2^63 at unit-normalized 64-dim), double divide/sqrt — scores are
    bit-identical to ``cosine_exact``, and per-task top-k selection
    under the total order (cosine DESC, n_id ASC) is lossless.
    Corpus rows the join path scores to NULL cosine (null/ragged/
    mismatched-length/NaN vectors, zero norms) are emitted with NULL
    cosine so below-k backfill matches exactly.  Returns None (caller
    falls back to the join) for non-integral ids, no/invalid query
    vectors, or an over-cap / unknown-size query side."""
    for df in (corpus, queries):
        # bigint only: the kernel's int64 id round-trip must reproduce
        # the join path's output schema exactly
        if df.schema[id_col].dataType.simpleString() != "bigint":
            return None
    if _plan_size_bytes(queries) > 64 * 1024 * 1024:
        return None
    qrows = queries.select(F.col(id_col).cast("long"),
                           F.col(vec_col)).collect()
    if not qrows or any(r[1] is None for r in qrows):
        return None
    try:  # ragged lengths -> object array -> ValueError
        qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    except (ValueError, TypeError):
        return None
    if qmat.ndim != 2 or qmat.shape[1] == 0 or np.isnan(qmat).any():
        return None
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qq = np.floor(qmat * _DOT_SCALE + 0.5).astype(np.int64)
    qn2 = (qq * qq).sum(axis=1)
    if (qn2 == 0).any():
        return None  # zero-norm query: the join path's all-NULL column
    qn2f = qn2.astype(np.float64)
    nq, dim = qq.shape
    cid_type = corpus.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[id_col].dataType.simpleString()

    def gen(batches):
        # per-query candidate pool, RE-TRUNCATED to k after every batch
        # so a task emits at most k non-NULL rows per query no matter
        # how many Arrow batches it saw (k x n_batches otherwise —
        # the final window's driver-side input would grow with batch
        # count).  Incremental top-k under the total order (cosine
        # DESC, id ASC) is lossless: top-k of (top-k(A) ∪ B) =
        # top-k(A ∪ B).
        pools: list = [None] * nq              # (cos array, id array)
        bad_ids: list = []
        for pdf in batches:
            if not len(pdf):
                continue
            if pdf[id_col].isna().any():
                # null ids: q_id != n_id is NULL in the join path, so
                # those rows are filtered out there — drop them here
                pdf = pdf[pdf[id_col].notna()]
                if not len(pdf):
                    continue
            ids_b = pdf[id_col].to_numpy().astype(np.int64)
            vecs = pdf[vec_col]
            try:
                mat = np.array(vecs.tolist(), dtype=np.float64)
                if mat.ndim != 2 or mat.shape[1] != dim:
                    raise ValueError
                ok = ~np.isnan(mat).any(axis=1)
            except (ValueError, TypeError):
                # rare mixed batch: per-row conversion
                mat = np.zeros((len(pdf), dim), dtype=np.float64)
                ok = np.zeros(len(pdf), dtype=bool)
                for i, v in enumerate(vecs):
                    try:
                        row = np.asarray(v, dtype=np.float64)
                    except (ValueError, TypeError):
                        continue
                    if row.shape == (dim,) and not np.isnan(row).any():
                        mat[i] = row
                        ok[i] = True
            cq = np.floor(mat[ok] * _DOT_SCALE + 0.5).astype(np.int64)
            cn2 = (cq * cq).sum(axis=1)
            nz = cn2 > 0
            ok_idx = np.flatnonzero(ok)[nz]
            bad_ids.append(ids_b[~np.isin(
                np.arange(len(pdf)), ok_idx, assume_unique=False)])
            if len(ok_idx):
                cq, cn2 = cq[nz], cn2[nz]
                ids_v = ids_b[ok_idx]
                cos = (cq @ qq.T).astype(np.float64) / np.sqrt(
                    cn2.astype(np.float64)[:, None] * qn2f[None, :])
                for j in range(nq):
                    keep = ids_v != qids[j]
                    cj, ij = cos[keep, j], ids_v[keep]
                    if pools[j] is not None:
                        cj = np.concatenate([pools[j][0], cj])
                        ij = np.concatenate([pools[j][1], ij])
                    if len(cj) > k:
                        order = np.lexsort((ij, -cj))[:k]
                        cj, ij = cj[order], ij[order]
                    pools[j] = (cj, ij)
        out_q, out_n, out_c = [], [], []
        bad = (np.concatenate(bad_ids)
               if bad_ids else np.empty(0, dtype=np.int64))
        for j in range(nq):
            if pools[j] is not None and len(pools[j][0]):
                cj, ij = pools[j]
                out_q.extend([qids[j]] * len(cj))
                out_n.extend(ij.tolist())
                out_c.extend(cj.tolist())
            for b in bad:
                if b != qids[j]:  # join path's NULL-cosine rows
                    out_q.append(qids[j])
                    out_n.append(int(b))
                    out_c.append(None)
        if out_q:
            yield pd.DataFrame({"q_id": out_q, "n_id": out_n,
                                "cosine": pd.array(out_c,
                                                   dtype="float64"
                                                   if None not in out_c
                                                   else "Float64")})

    return corpus.select(id_col, vec_col).mapInPandas(
        gen, f"q_id {qid_type}, n_id {cid_type}, cosine double")


def _broadcast_matrix_scores(corpus: DataFrame, pair_ids: DataFrame,
                             id_col: str, vec_col: str,
                             threshold: float) -> DataFrame | None:
    """Score candidate (id1, id2) pairs against a driver-collected
    corpus matrix instead of joining the vectors onto every pair.

    The candidate join otherwise carries two 64-float vectors per pair
    through a shuffle and folds them in Catalyst's interpreted
    higher-order-function path — at sf0.1 that is ~1.9M pairs × 3
    interpreted 64-element folds.  Here only the two id columns cross
    the Python boundary (Arrow, ~16 bytes/pair); each task gathers
    rows from the broadcast int64-quantized matrix and scores whole
    batches with numpy (guide §4.2: hand batches to vectorized native
    code; §8: shuffle keys, not payloads).

    EXACTNESS: quantization (floor(x·1e8 + 0.5) on float64), the int64
    dot product (order-independent integer sum, bounded 6.4e17 < 2^63)
    and the final double divide/sqrt replicate ``cosine_exact``
    operation-for-operation in IEEE arithmetic, so the scores are
    bit-identical to the JVM fold and the duckdb oracle.  No fcos
    double pre-filter is needed: every candidate is scored exactly.

    Returns None when the kernel does not apply (non-integral ids,
    ragged/empty/NaN vectors, duplicate ids) — the caller falls back
    to the vector join.  The caller gates on corpus size; this
    function assumes the collect is affordable."""
    id_type = corpus.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        return None
    rows = corpus.select(F.col(id_col).cast("long"),
                         F.col(vec_col)).collect()
    if not rows or any(r[1] is None for r in rows):
        return None
    try:  # ragged vector lengths -> object array -> ValueError
        mat = np.array([r[1] for r in rows], dtype=np.float64)
    except (ValueError, TypeError):
        return None
    # NaN elements: NaN->int64 is undefined (typically INT64_MIN), and
    # the vector-join path it must be bit-identical to orders NaN
    # ABOVE every double (so NaN cosines pass the threshold filter
    # there) — fall back rather than diverge on the size gate
    if mat.ndim != 2 or mat.shape[1] == 0 or np.isnan(mat).any():
        return None
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    # duplicate ids: the join path scores a pair once PER duplicate
    # row; searchsorted would silently pick one — fall back
    if len(np.unique(ids)) != len(ids):
        return None
    order = np.argsort(ids)
    ids_sorted = ids[order]
    q = np.floor(mat[order] * _DOT_SCALE + 0.5).astype(np.int64)
    n2 = (q * q).sum(axis=1)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a1 = pdf["id1"].to_numpy()
            a2 = pdf["id2"].to_numpy()
            i1 = np.searchsorted(ids_sorted, a1)
            i2 = np.searchsorted(ids_sorted, a2)
            # a pair id absent from the matrix would otherwise score
            # against the insertion-point NEIGHBOR (or index out of
            # bounds at the array end) — impossible while pair_ids
            # derives from the same corpus, but this is a module-level
            # helper: fail loudly, never guess
            if (i1 == len(ids_sorted)).any() or \
                    (i2 == len(ids_sorted)).any() or \
                    (ids_sorted[np.minimum(i1, len(ids_sorted) - 1)]
                     != a1).any() or \
                    (ids_sorted[np.minimum(i2, len(ids_sorted) - 1)]
                     != a2).any():
                raise ValueError(
                    "pair id absent from the collected corpus matrix "
                    "(_broadcast_matrix_scores kernel contract)")
            d12 = (q[i1] * q[i2]).sum(axis=1).astype(np.float64)
            cos = d12 / np.sqrt(n2[i1].astype(np.float64)
                                * n2[i2].astype(np.float64))
            keep = cos >= threshold
            yield pd.DataFrame({"id1": pdf["id1"].to_numpy()[keep],
                                "id2": pdf["id2"].to_numpy()[keep],
                                "cosine": cos[keep]})

    return pair_ids.mapInPandas(
        score, f"id1 {id_type}, id2 {id_type}, cosine double")


def neardup_pairs(corpus: DataFrame, threshold: float = 0.45,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  exact: bool = True, dim: int = 64, bits: int = 3,
                  tables: int = 24,
                  allow_quadratic: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id1 < id2, cosine ≥ t).

    Default path: multi-table hyperplane-LSH candidate generation
    (equi-join on (table, bucket) — no cartesian product) followed by
    exact cosine verification of candidates only.  A pair at cosine c
    (per-bit agreement p = 1-acos(c)/π) is a candidate with prob
    1-(1-p^bits)^tables — at the default t=0.45, bits=3/tables=24
    gives per-pair miss ≈5e-4 and prunes the pair space ~100×
    (measured at sf0.01); at near-dup production thresholds (c ≥ 0.8,
    p ≈ 0.8) bits=8/tables=32 touches ~N·32/256 rows per probe —
    genuinely sublinear.  ``allow_quadratic=True`` restores the exact
    all-pairs crossJoin (the verification oracle; O(N²) by design)."""
    if allow_quadratic:
        a = corpus.select(F.col(id_col).alias("id1"),
                          F.col(vec_col).alias("v1"),
                          dot_double(F.col(vec_col), F.col(vec_col))
                          .alias("n1"))
        b = corpus.select(F.col(id_col).alias("id2"),
                          F.col(vec_col).alias("v2"),
                          dot_double(F.col(vec_col), F.col(vec_col))
                          .alias("n2"))
        fast_cos = (dot_double(F.col("v1"), F.col("v2")) /
                    F.sqrt(F.col("n1") * F.col("n2")))
        cands = (a.crossJoin(b).filter(F.col("id1") < F.col("id2"))
                 .select("id1", "id2", "v1", "v2", fast_cos.alias("fcos"))
                 # cheap double pass prunes the O(N²) space; the 1e-6
                 # margin dwarfs double-vs-decimal divergence (~1e-9)
                 .filter(F.col("fcos") >= threshold - 1e-6))
    else:
        from . import spread_input
        raw_corpus = corpus  # unshuffled plan for the collect below
        corpus = spread_input(corpus)
        sig = _signature_batch_udf(dim, bits, tables)
        tagged = (corpus.select(F.col(id_col).alias("id"),
                                F.posexplode(sig(F.col(vec_col)))
                                .alias("tbl", "bucket"))
                  .localCheckpoint(eager=False))
        # the tagged table scales with the corpus (docs × tables):
        # pin the shuffle-hash self-join on (tbl, bucket) — Spark's
        # small-SF broadcast pick is the wrong plan at any real scale
        # (same decision as the shingle and minhash-band self-joins)
        ta = tagged.alias("ta")
        tb = tagged.alias("tb").hint("shuffle_hash")
        pair_ids = (ta.join(tb, (F.col("ta.tbl") == F.col("tb.tbl")) &
                            (F.col("ta.bucket") == F.col("tb.bucket")) &
                            (F.col("ta.id") < F.col("tb.id")))
                    .select(F.col("ta.id").alias("id1"),
                            F.col("tb.id").alias("id2"))
                    .dropDuplicates(["id1", "id2"]))
        # size-gated broadcast-matrix scoring: when the corpus fits
        # under the broadcast cap (the 64 MB bound every other
        # broadcast gate in this package uses), score candidates
        # against a collected int64-quantized matrix instead of
        # joining two vectors onto every pair — identical output
        # (see _broadcast_matrix_scores), ~none of the pair-join
        # shuffle or interpreted HOF cost.  Past the cap (real-scale
        # corpora) the vector join below remains the plan.
        if exact and _plan_size_bytes(raw_corpus) <= (64 << 20):
            scored = _broadcast_matrix_scores(raw_corpus, pair_ids,
                                              id_col, vec_col, threshold)
            if scored is not None:
                return scored
        v1 = corpus.select(F.col(id_col).alias("id1"),
                           F.col(vec_col).alias("v1"),
                           dot_double(F.col(vec_col), F.col(vec_col))
                           .alias("n1"))
        v2 = corpus.select(F.col(id_col).alias("id2"),
                           F.col(vec_col).alias("v2"),
                           dot_double(F.col(vec_col), F.col(vec_col))
                           .alias("n2"))
        fast_cos = (dot_double(F.col("v1"), F.col("v2")) /
                    F.sqrt(F.col("n1") * F.col("n2")))
        cands = (pair_ids.join(v1, "id1").join(v2, "id2")
                 .select("id1", "id2", "v1", "v2", fast_cos.alias("fcos"))
                 .filter(F.col("fcos") >= threshold - 1e-6))
    if not exact:
        return cands.select("id1", "id2", F.col("fcos").alias("cosine"))
    cos = cosine_exact(F.col("v1"), F.col("v2"))
    return (cands.select("id1", "id2", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane from a hash of
    (plane, dim-index) — no RNG state, reproducible across runs."""
    out = []
    for d in range(dim):
        h = (plane * 1_000_003 + d * 8191 + 12582917) & 0xFFFFFFFF
        h ^= h >> 13
        h = (h * 0x5BD1E995) & 0xFFFFFFFF
        h ^= h >> 15
        out.append(1.0 if h & 1 else -1.0)
    return out


def lsh_signature(vec: Column, dim: int, bits: int = 8,
                  plane_offset: int = 0) -> Column:
    """Random-hyperplane LSH bucket id (0..2^bits-1) as an int column;
    JVM-only expression.  ``plane_offset`` selects an independent set
    of hyperplanes so multiple hash tables can be derived from the same
    deterministic family."""
    sig = F.lit(0)
    for p in range(bits):
        plane = _hyperplane(dim, plane_offset + p)
        proj = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(w) for w in plane]),
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v)
        sig = sig + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig.cast("int")


def _signature_batch_udf(dim: int, bits: int, tables: int):
    """Arrow-batched multi-table signature: one numpy matmul computes
    every (table, bit) projection at once instead of tables·bits nested
    JVM aggregate expressions (which explode codegen time past ~32
    planes).  Returns array<int> of per-table bucket ids."""
    from pyspark.sql.functions import pandas_udf

    planes = np.array([_hyperplane(dim, t * bits + p)
                       for t in range(tables) for p in range(bits)])
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def sigs(v: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        proj = mat @ planes.T                       # (n, tables*bits)
        bitm = (proj > 0).reshape(len(mat), tables, bits)
        buckets = (bitm * weights).sum(axis=2).astype(np.int32)
        return pd.Series(list(buckets))

    return sigs


def lsh_bucketed_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int = 64, bits: int = 8,
                      multiprobe: int = 1, tables: int = 1,
                      exact_rerank: bool = False) -> DataFrame:
    """Approximate top-k: bucket the corpus by hyperplane signature,
    join queries only to their bucket (plus `multiprobe` single-bit
    flips), rank within candidates.  ``tables`` independent hash
    tables (standard multi-table LSH) drive recall: a neighbor whose
    per-bit agreement is p is found with prob 1-(1-p^bits)^tables.
    At 100 TB the corpus-side signatures are computed in the one scan
    that wrote the embedding and persisted/partitioned by (table,
    bucket), so a query touches ~tables·N/2^bits rows — bits scales
    with corpus size, tables with target recall.
    ``exact_rerank`` scores candidates with the decimal-exact cosine
    (same formula as ``brute_force_topk(exact=True)``) so that when
    candidates cover the true top-k the output is bit-identical to
    brute force."""
    sig_udf = _signature_batch_udf(dim, bits, tables)
    c = (corpus.select(F.col(id_col).alias("n_id"),
                       F.col(vec_col).alias("n_vec"),
                       F.posexplode(sig_udf(F.col(vec_col)))
                       .alias("tbl", "bucket")))
    # query side: per-table signature + multiprobe single-bit flips
    flips = [F.col("sig")] + [F.col("sig").bitwiseXOR(F.lit(1 << b))
                              for b in range(min(multiprobe, bits))]
    q = (queries.select(F.col(id_col).alias("q_id"),
                        F.col(vec_col).alias("q_vec"),
                        F.posexplode(sig_udf(F.col(vec_col)))
                        .alias("tbl", "sig"))
         .withColumn("bucket", F.explode(F.array(*flips)))
         .select("q_id", "q_vec", "tbl", "bucket"))
    cos_fn = cosine_exact if exact_rerank else cosine_double
    cands = (c.join(F.broadcast(q), ["tbl", "bucket"])
             .filter(F.col("q_id") != F.col("n_id"))
             .select("q_id", "n_id", "q_vec", "n_vec")
             .dropDuplicates(["q_id", "n_id"]))
    scored = cands.select(
        "q_id", "n_id",
        cos_fn(F.col("q_vec"), F.col("n_vec")).alias("cosine"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", "n_id", "rk", "cosine"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + list-pruned probe
# ---------------------------------------------------------------------------

def _spherical_kmeans(vecs: np.ndarray, n_lists: int, iters: int = 10,
                      seed: int = 7) -> np.ndarray:
    """Deterministic spherical k-means over a (bounded) training
    sample: cosine assignment, mean-then-renormalize update.  Pure
    numpy on the driver — the sample is capped by the caller, never
    corpus-sized."""
    v = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    idx = rng.choice(len(v), size=min(n_lists, len(v)), replace=False)
    cent = v[np.sort(idx)].copy()
    for _ in range(iters):
        assign = (v @ cent.T).argmax(axis=1)
        for j in range(len(cent)):
            members = v[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    cent[j] = c / n
    return cent


def ivf_train(corpus: DataFrame, n_lists: int = 16,
              id_col: str = "vec_id", vec_col: str = "embedding",
              sample: int = 4096, iters: int = 10,
              seed: int = 7) -> np.ndarray:
    """Train the IVF coarse quantizer on a deterministic hash-ordered
    sample (TakeOrdered: per-partition top-`sample` by xxhash64(id),
    merged on the driver — no full shuffle, bounded driver memory at
    any corpus size).  Returns the (n_lists, dim) centroid matrix —
    small enough to ship to executors inside a UDF closure."""
    rows = (corpus.select(F.col(id_col).alias("i"),
                          F.col(vec_col).alias("v"))
            .orderBy(F.xxhash64(F.col("i")))
            .limit(sample).collect())
    vecs = np.array([np.asarray(r["v"], dtype=np.float64) for r in rows])
    return _spherical_kmeans(vecs, n_lists, iters=iters, seed=seed)


def _ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """Arrow-batched: nearest-`nprobe` centroid ids per vector (one
    numpy matmul per batch)."""
    from pyspark.sql.functions import pandas_udf

    cent = centroids.copy()

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(v: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                               1e-12)
        sim = mat @ cent.T
        top = np.argsort(-sim, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype(np.int32) for row in top])

    return assign


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_lists: int = 16, nprobe: int = 4, sample: int = 4096,
             seed: int = 7, exact_rerank: bool = False,
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF approximate top-k: corpus vectors partitioned into
    `n_lists` inverted lists by nearest centroid (one scan, one
    Arrow-batched matmul); each query probes its `nprobe` nearest
    lists, so the candidate join touches ~nprobe/n_lists of the
    corpus instead of all of it.

    100 TB shape: centroids train on a bounded TakeOrdered sample and
    ride to executors in the UDF closure (n_lists·dim·8 B); the
    corpus-side list assignment happens in the same scan that would
    write the embedding table (in production: persist partitioned by
    list_id so a probe is partition pruning, not a filter); the
    shuffle is candidates-only.  Recall scales with nprobe/n_lists —
    the standard IVF trade (FAISS IndexIVFFlat semantics).
    `exact_rerank` scores candidates with the scaled-integer exact
    cosine so full-recall configurations are bit-identical to
    brute_force_topk."""
    if centroids is None:
        centroids = ivf_train(corpus, n_lists, id_col, vec_col,
                              sample=sample, seed=seed)
    c_assign = _ivf_assign_udf(centroids, nprobe=1)
    q_assign = _ivf_assign_udf(centroids, nprobe=nprobe)
    c = corpus.select(F.col(id_col).alias("n_id"),
                      F.col(vec_col).alias("n_vec"),
                      c_assign(F.col(vec_col))[0].alias("list_id"))
    q = (queries.select(F.col(id_col).alias("q_id"),
                        F.col(vec_col).alias("q_vec"),
                        F.explode(q_assign(F.col(vec_col)))
                        .alias("list_id")))
    cos_fn = cosine_exact if exact_rerank else cosine_double
    cands = (c.join(F.broadcast(q), "list_id")
             .filter(F.col("q_id") != F.col("n_id"))
             .select("q_id", "n_id",
                     cos_fn(F.col("q_vec"), F.col("n_vec")).alias("cosine")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (cands.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", "n_id", "rk", "cosine"))


def semantic_clusters(corpus: DataFrame, threshold: float = 0.85,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int = 64, bits: int = 8, tables: int = 32,
                      allow_quadratic: bool = False) -> DataFrame:
    """Semantic duplicate clusters: (id, cluster_id) for EVERY corpus
    row, cluster_id = min id of its cosine-≥-threshold component
    (singletons keep their own id).

    The SemDeDup-style embedding dedup recipe composed from the scale
    paths already audited at 100 TB: LSH candidate pairs + exact
    verification (`neardup_pairs`), then min-label connected
    components (`dedup_clusters` — O(component diameter) shuffles,
    and near-dup components are small-diameter by construction)."""
    from pipelinedb_spark.operators.dedup import dedup_clusters

    pairs = neardup_pairs(corpus, threshold, id_col, vec_col,
                          exact=True, dim=dim, bits=bits, tables=tables,
                          allow_quadratic=allow_quadratic)
    comp = dedup_clusters(
        pairs.select(F.col("id1").alias("d1"), F.col("id2").alias("d2")))
    ids = corpus.select(F.col(id_col).alias("doc_id"))
    return (ids.join(comp, "doc_id", "left")
            .select(F.col("doc_id").alias(id_col),
                    F.coalesce("cluster_id", "doc_id").alias("cluster_id")))


def semantic_dedup(corpus: DataFrame, threshold: float = 0.85,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int = 64, bits: int = 8, tables: int = 32,
                   allow_quadratic: bool = False) -> DataFrame:
    """Keep one canonical row (min id) per semantic-duplicate cluster
    — the corpus minus non-canonical members via a left-anti join on
    the (small, duplicates-only) drop list, so the corpus side stays
    a single scan."""
    clusters = semantic_clusters(corpus, threshold, id_col, vec_col,
                                 dim=dim, bits=bits, tables=tables,
                                 allow_quadratic=allow_quadratic)
    drop = (clusters.filter(F.col(id_col) != F.col("cluster_id"))
            .select(id_col))
    return corpus.join(F.broadcast(drop), id_col, "left_anti")


def _ivf_assign_dist_udf(centroids: np.ndarray):
    """Arrow-batched: (nearest centroid id, assignment distance
    ``1 − cosine``) per vector — one matmul serves both the list
    assignment and the staleness accounting."""
    from pyspark.sql.functions import pandas_udf

    cent = centroids.copy()

    @pandas_udf("list_id int, dist double")
    def assign_dist(v: pd.Series) -> pd.DataFrame:
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                               1e-12)
        sim = mat @ cent.T
        best = sim.argmax(axis=1)
        return pd.DataFrame({
            "list_id": best.astype(np.int32),
            "dist": 1.0 - sim[np.arange(len(best)), best]})

    return assign_dist


def _read_meta(path: str) -> dict | None:
    """Index meta (operator params + drift accounting).  Lives inside
    the versioned store's manifest since round 8 — data and accounting
    swap atomically together (indexstore.IndexStore.commit)."""
    s = IndexStore(path)
    if not s.exists():
        return None
    return s.meta() or None


# NOTE: there is deliberately no _write_meta helper anymore — meta
# rides IndexStore.commit/tag in the SAME atomic swap as the data it
# covers; a standalone meta write would reintroduce the accounting/
# data skew the round-8 lifecycle eliminated.


def ivf_persist(corpus: DataFrame, path: str,
                centroids: np.ndarray | None = None,
                n_lists: int = 16, id_col: str = "vec_id",
                vec_col: str = "embedding",
                sample: int = 4096, seed: int = 7,
                _expected_dirs: list[str] | None = None) -> np.ndarray:
    """Materialize an IVF index on disk: the corpus written
    partitioned by ``list_id`` (plus ``centroids.npy`` beside it), so
    probes become PARTITION PRUNING at the parquet scan instead of a
    post-scan filter.  This is the production shape the ivf_topk
    docstring describes: at 100 TB a probe touches ~nprobe/n_lists of
    the files, enforced by the storage layout.

    The build also records the corpus mean assignment distance
    (1 − cosine to the nearest centroid) in the store manifest — the
    baseline that ``ivf_staleness`` compares appended batches against
    to signal centroid drift.  The distance rides the write job as an
    Observation (no extra pass)."""
    from pyspark.sql import Observation

    if centroids is None:
        centroids = ivf_train(corpus, n_lists, id_col, vec_col,
                               sample=sample, seed=seed)
    assign_dist = _ivf_assign_dist_udf(centroids)
    # hash-repartition on list_id before the dynamic-partition write:
    # otherwise every input partition emits one file per list it holds
    # (partitions × lists small files — see ivf_append)
    nparts = min(corpus.sparkSession.sparkContext.defaultParallelism,
                 max(1, len(centroids)))
    store = IndexStore(path)
    staged = store.stage()
    obs = Observation()
    (corpus.select(F.col(id_col), F.col(vec_col),
                   assign_dist(F.col(vec_col)).alias("__ad"))
     .select(id_col, vec_col, F.col("__ad.list_id").alias("list_id"),
             F.col("__ad.dist").alias("__dist"))
     .observe(obs, F.avg("__dist").alias("mean_dist"),
              F.count(F.lit(1)).alias("n"))
     .drop("__dist")
     .repartition(nparts, "list_id")
     .write.mode("overwrite").partitionBy("list_id").parquet(staged))
    np.save(os.path.join(staged, "_centroids.npy"), centroids)
    # retrain path (_expected_dirs set): the rebuild consumed exactly
    # those dirs — a batch appended meanwhile was assigned under the
    # OLD centroids, so keeping it beside the new base would corrupt
    # probe pruning; conflict instead, and ivf_retrain re-runs over
    # the now-larger index (ADVICE round 8: silent drop was data loss)
    store.commit(staged, replace=True,
                 expected_dirs=_expected_dirs, on_extra="conflict",
                 meta={
        "n_lists": int(len(centroids)),
        "dim": int(centroids.shape[1]),
        "build_n": int(obs.get["n"]),
        "build_mean_dist": float(obs.get["mean_dist"] or 0.0),
        "appended_n": 0,
        "appended_dist_sum": 0.0,
        "id_col": id_col, "vec_col": vec_col,
        # appends CAST to this element type: one parquet physical
        # type across the whole index (mixed float/double files under
        # one path fail every later scan)
        "vec_type": corpus.schema[vec_col].dataType
        .elementType.simpleString(),
    })
    return centroids


def ivf_topk_persisted(spark, path: str, queries: DataFrame, k: int = 5,
                       nprobe: int = 4, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       exact_rerank: bool = False) -> DataFrame:
    """ANN top-k over a persisted IVF index: each query probes its
    ``nprobe`` nearest lists, and the ``list_id.isin(...)`` predicate
    lands in the scan's PartitionFilters — unprobed lists are never
    read (verifiable in the plan).  Scoring semantics are identical
    to ``ivf_topk``."""
    store = IndexStore(path)
    centroids = np.load(store.artifact("_centroids.npy"))
    q_assign = _ivf_assign_udf(centroids, nprobe=nprobe)
    q = (queries.select(F.col(id_col).alias("q_id"),
                        F.col(vec_col).alias("q_vec"),
                        F.explode(q_assign(F.col(vec_col)))
                        .alias("list_id")))
    probed = sorted({int(r["list_id"]) for r in
                     q.select("list_id").distinct().collect()})
    c = (store.read(spark)
         .filter(F.col("list_id").isin(probed))
         .select(F.col(id_col).alias("n_id"),
                 F.col(vec_col).alias("n_vec"), "list_id"))
    cos_fn = cosine_exact if exact_rerank else cosine_double
    cands = (c.join(F.broadcast(q), "list_id")
             .filter(F.col("q_id") != F.col("n_id"))
             .select("q_id", "n_id",
                     cos_fn(F.col("q_vec"), F.col("n_vec")).alias("cosine")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (cands.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", "n_id", "rk", "cosine"))


def ivf_append(spark, path: str, new_vectors: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               write_partitions: int | None = None,
               txn: tuple[str, int] | None = None) -> int:
    """Admit a batch of new embeddings into a persisted IVF index:
    vectors are assigned with the index's FROZEN centroids
    (``_centroids.npy``) and appended into the ``partitionBy(list_id)``
    layout — O(batch) per ingest, no corpus rewrite.  The
    continuous-ingest ANN shape (the IVF analog of
    ``dedup.lsh_index_append``): at 100 TB each arriving batch costs
    one assignment pass + an append, and probes keep pruning at the
    partition level.  Centroid drift under a shifting distribution is
    handled by periodic re-train + re-persist, the standard IVF
    maintenance trade (the reference's sketches make the same
    bounded-state choice).  Returns the number of vectors admitted.

    Durability: the batch lands in a staged dir and joins the live
    set via one atomic manifest swap CARRYING the updated drift
    accounting — a mid-append crash leaves no partial batch and no
    accounting skew (round-8 task 1).  ``txn=(app_id, epoch)`` skips
    replayed streaming epochs (returns 0) — effectively-once ingest."""
    from pyspark.sql import Observation

    store = IndexStore(path)
    if store.replayed(txn):
        return 0
    if new_vectors.isEmpty():
        # empty epoch: tag only — no encode job, and no empty version
        # dir (one per empty epoch would bloat later probes' unions).
        # Also dodges a Spark quirk: empty-relation propagation can
        # eliminate the CollectMetrics node, breaking Observation.get.
        store.tag(txn=txn)
        return 0
    centroids = np.load(store.artifact("_centroids.npy"))
    meta0 = _read_meta(path)
    vec_type = (meta0 or {}).get("vec_type")
    if vec_type is None:  # pre-meta index: infer from stored files
        vec_type = (store.read(new_vectors.sparkSession)
                    .schema[vec_col].dataType.elementType.simpleString())
    # one parquet physical type for the whole index — appending
    # array<double> into an array<float> index (or vice versa) would
    # write mixed-type files that fail every later scan
    new_vectors = new_vectors.withColumn(
        vec_col, F.col(vec_col).cast(f"array<{vec_type}>"))
    assign_dist = _ivf_assign_dist_udf(centroids)
    obs = Observation()
    out = (new_vectors.select(F.col(id_col), F.col(vec_col),
                              assign_dist(F.col(vec_col)).alias("__ad"))
           .select(id_col, vec_col,
                   F.col("__ad.list_id").alias("list_id"),
                   F.col("__ad.dist").alias("__dist"))
           .observe(obs, F.count(F.lit(1)).alias("n"),
                    F.sum("__dist").alias("dist_sum"))
           .drop("__dist"))
    # co-locate each list's rows in one task before the dynamic-
    # partition write: without this, every input partition writes one
    # file per list_id it happens to hold (input_partitions × lists
    # small files per append — at 100 TB a few hundred appends would
    # degrade every later probe's listing/scan).  Hash-repartitioned
    # on list_id the append writes ≈ one file per touched list.
    if write_partitions is None:
        write_partitions = min(spark.sparkContext.defaultParallelism,
                               max(1, len(centroids)))
    out = out.repartition(write_partitions, "list_id")
    staged = store.stage()
    out.write.mode("overwrite").partitionBy("list_id").parquet(staged)
    try:
        n = int(obs.get["n"])
        ds = float(obs.get["dist_sum"] or 0.0)
    except Exception:
        # empty-result plans can eliminate the CollectMetrics node
        # (all rows dropped by the invalid-vector filter)
        n, ds = 0, 0.0
    if n == 0:
        # row-less batch: no data dir (one per empty epoch would
        # bloat later probes' unions), but the txn tag still advances
        shutil.rmtree(staged, ignore_errors=True)
        store.tag(txn=txn)
        return 0
    # drift accounting: the assignment distances already rode the
    # write job's Observation — folded into the index meta INSIDE the
    # commit critical section (meta_fn), which swaps in the SAME
    # manifest write as the batch it covers; a concurrent append can
    # no longer lose accounting to a pre-lock read (ADVICE round 8)
    def _fold(cur: dict) -> dict:
        meta = dict(cur)
        meta["appended_n"] = meta.get("appended_n", 0) + n
        meta["appended_dist_sum"] = (meta.get("appended_dist_sum", 0.0)
                                     + ds)
        meta["last_append_n"] = n
        meta["last_append_mean_dist"] = ds / n
        return meta

    store.commit(staged, replace=False, meta_fn=_fold, txn=txn)
    return n


def ivf_staleness(path: str) -> dict:
    """Centroid-drift signal for a persisted IVF index, O(1) — reads
    only the store manifest, no vectors.  Returns ``build_mean_dist``
    (mean 1−cosine assignment distance at index build),
    ``appended_mean_dist`` (same over every ``ivf_append`` batch since
    build/retrain), and ``ratio`` = appended/build.  A ratio well
    above 1 means arriving vectors sit far from the frozen centroids
    (distribution shift) → recall degrades and a retrain is due; ~1.0
    means the quantizer still fits.  ``ratio`` is NaN until something
    was appended."""
    meta = _read_meta(path)
    if meta is None:
        raise ValueError(
            f"no index manifest under {path}: index predates staleness "
            "accounting — re-run ivf_persist/ivf_retrain")
    build = float(meta.get("build_mean_dist", 0.0))
    n = int(meta.get("appended_n", 0))
    appended = (float(meta["appended_dist_sum"]) / n) if n else float("nan")
    last = meta.get("last_append_mean_dist")
    return {"build_mean_dist": build,
            "appended_mean_dist": appended,
            "appended_n": n,
            "ratio": appended / build if n and build > 0 else float("nan"),
            # most-recent batch alone — reacts to a sudden shift that
            # the cumulative mean would dilute
            "last_append_mean_dist": last,
            "last_ratio": (last / build if last is not None and build > 0
                           else float("nan"))}


def ivf_retrain(spark, path: str, n_lists: int | None = None,
                sample: int = 4096, seed: int = 7) -> np.ndarray:
    """Re-train the coarse quantizer from the vectors already stored
    in the index (base + every appended batch) and re-persist — the
    maintenance step ``ivf_staleness`` calls for.  Resets the drift
    accounting.

    The rebuild WRITES BESIDE AND SWAPS (round-8 task 1): the train +
    assign jobs read the old committed dirs, the new index lands in a
    staged dir, and one atomic manifest swap retires the old version
    — which stays on disk under GC grace, so a crash or lost executor
    at ANY point leaves the old index fully readable.  No
    localCheckpoint pinning: the sources are immutable until the
    commit, at 100 TB as locally."""
    from ..indexstore import CommitConflict

    meta = _read_meta(path) or {}
    id_col = meta.get("id_col", "vec_id")
    vec_col = meta.get("vec_col", "embedding")
    store = IndexStore(path)
    if n_lists is None:
        n_lists = int(meta.get("n_lists") or
                      len(np.load(store.artifact("_centroids.npy"))))
    # pin the exact dir snapshot the rebuild consumes; a concurrent
    # append (old-centroid assignments) conflicts the swap and the
    # retrain re-runs over the larger index — never silently dropped
    for _ in range(3):
        paths = store.dirs()
        corpus = store.read_from(spark, paths).select(id_col, vec_col)
        try:
            return ivf_persist(
                corpus, path, n_lists=n_lists, id_col=id_col,
                vec_col=vec_col, sample=sample, seed=seed,
                _expected_dirs=[os.path.basename(p) for p in paths])
        except CommitConflict:
            continue
    raise CommitConflict(
        f"ivf_retrain lost 3 rebuild races under {path}")


# "distance is zero" tolerance for the greedy's fewer-than-k-distinct
# break: double rounding leaves selected points at ~1e-16 from
# themselves, far below any real inter-point distance of interest
_KC_ZERO_EPS = 1e-12


def _release_local_checkpoint(df: DataFrame) -> None:
    """Deterministically free a localCheckpoint's executor storage.

    ``Dataset.localCheckpoint`` persists an internal RDD that hangs
    off the returned Dataset's LogicalRDD node; dropping the Python
    reference only frees those blocks when driver GC plus the
    ContextCleaner eventually run, so an iterative algorithm could
    pile up one working-set copy per pass (review finding, round 8).
    Unpersisting the node's RDD bounds live storage to the copies the
    caller still holds.  Best-effort: if the internals move in a
    future Spark, the GC-driven path still reclaims the blocks."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def kcenter_select(corpus: DataFrame, k: int,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   seed: int = 7, start_id=None,
                   exact: bool = False) -> DataFrame:
    """Greedy k-center diversity selection (Gonzalez 1985, the
    2-approximation for the k-center radius): pick a deterministic
    seed exemplar, then k−1 times select the point FARTHEST (cosine
    distance) from everything selected so far.  The standard
    coverage/diversity sampler for training-data selection — the
    complement of DSIR's "more like the target": k-center spreads the
    budget over the embedding space instead of concentrating it.

    Returns (id_col, sel_order, sel_dist): selection rank 0..k−1 and
    each exemplar's distance to the previously selected set at pick
    time — a non-increasing sequence whose last value bounds the
    covering radius within 2× of optimal.

    Spark shape: the classic k-pass greedy — per iteration ONE
    column update (min of the running distance and the distance to
    the single newly broadcast center — the center ships as a
    literal array, no join) and ONE max-struct aggregation (no sort,
    no shuffle of the corpus).  The running state (id, vec, dist) is
    re-checkpointed each pass so lineage stays flat, and the PREVIOUS
    pass's checkpoint blocks are released as soon as the new one
    materializes — at most two copies of (id, vec, dist) live in
    executor storage at any instant (review r8: GC-driven cleanup
    could accumulate up to k copies on a big corpus).  k passes over
    the corpus is the algorithm's true cost at any scale.  For large
    k, use :func:`kcenter_over_centroids` — the ivf_train pre-reduce
    composition this docstring used to merely describe.

    ``start_id`` pins the seed exemplar to a caller-chosen id instead
    of the hash-order min, and ``exact=True`` scores with the
    1e-8-quantized integer dot product (:func:`cosine_exact`) — the
    combination makes the whole greedy bit-replayable by an external
    engine (the querybank's duckdb oracle), since every distance and
    every argmax tie-break is then engine-independent."""
    if k < 1:
        raise ValueError("k must be >= 1")
    cos = cosine_exact if exact else cosine_double

    def d_to(center: list) -> Column:
        c = F.array(*[F.lit(float(x)) for x in center])
        return 1.0 - cos(F.col("__v"), c)

    cur = corpus.select(F.col(id_col).alias("__i"),
                        F.col(vec_col).alias("__v"))
    # deterministic seed exemplar: hash-order min (the ivf_train
    # sampling contract — stable under retries and partitioning),
    # unless the caller pinned one
    if start_id is not None:
        first = cur.filter(F.col("__i") == F.lit(start_id)) \
            .limit(1).collect()
    else:
        first = (cur.orderBy(F.xxhash64(F.col("__i"), F.lit(seed)))
                 .limit(1).collect())
    if not first:
        schema = f"`{id_col}` {corpus.schema[id_col].dataType.simpleString()}"
        return corpus.sparkSession.createDataFrame(
            [], schema + ", sel_order int, sel_dist double")
    sel = [(first[0]["__i"], 0, float("inf"))]
    center = list(first[0]["__v"])
    cur = cur.withColumn("__d", d_to(center)) \
        .localCheckpoint(eager=True)
    for r in range(1, k):
        # one aggregation per pass; the winning VECTOR rides the same
        # max-struct (ids are distinct, so __v never decides the max)
        top = cur.agg(F.max(F.struct(F.col("__d"), F.col("__i"),
                                     F.col("__v"))).alias("m")) \
            .first()["m"]
        if top is None or float(top["__d"]) <= _KC_ZERO_EPS:
            # fewer than k distinct points.  Epsilon, not 0.0: a
            # selected point's own folded distance is 1 − x/√(x·x),
            # which float rounding can leave at ~+1e-16 (and exact
            # mode's long→double cast rounds above 2^53), so an exact
            # zero test could re-pick an already-selected exemplar on
            # duplicate-vector corpora (review r9)
            break
        nid = top["__i"]
        sel.append((nid, r, float(top["__d"])))
        center = list(top["__v"])
        if r < k - 1:
            prev = cur
            cur = cur.withColumn(
                "__d", F.least(F.col("__d"), d_to(center))) \
                .localCheckpoint(eager=True)
            # eager=True: the new checkpoint's blocks exist before we
            # drop the ones it was computed from
            _release_local_checkpoint(prev)
    _release_local_checkpoint(cur)
    spark = corpus.sparkSession
    out = spark.createDataFrame(
        [(s[0], s[1], s[2]) for s in sel],
        T.StructType([
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("sel_order", T.IntegerType()),
            T.StructField("sel_dist", T.DoubleType())]))
    return out


def kcenter_numpy(mat: np.ndarray, k: int, start: int = 0
                  ) -> tuple[list[int], np.ndarray]:
    """Driver-side Gonzalez greedy over a small (n × dim) matrix
    (cosine distance): returns (selected row indices in pick order,
    final min-distance-to-selected per row).  The in-memory core of
    :func:`kcenter_over_centroids`; also the oracle the
    kcenter_select parity tests replay."""
    m = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                         1e-12)
    sel = [int(start)]
    d = 1.0 - m @ m[start]
    for _ in range(1, min(k, len(m))):
        i = int(d.argmax())
        if d[i] <= _KC_ZERO_EPS:
            break                       # fewer than k distinct rows
            # (epsilon for the same float-residual reason as
            # kcenter_select)
        sel.append(i)
        np.minimum(d, 1.0 - m @ m[i], out=d)
    return sel, d


def kcenter_over_centroids(corpus: DataFrame, k: int,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           n_centroids: int = 256,
                           sample: int = 4096, iters: int = 10,
                           seed: int = 7) -> DataFrame:
    """Large-k k-center: pre-reduce the corpus to ``n_centroids``
    spherical-kmeans centroids (ivf_train — one bounded
    hash-ordered sample, no shuffle), run the Gonzalez greedy over
    the centroid matrix ON THE DRIVER (k in-memory passes over
    n_centroids rows instead of k Spark jobs over the corpus), then
    assign every corpus point to its nearest selected exemplar in
    ONE vectorized pass.

    Returns (id_col, exemplar, exemplar_dist): ``exemplar`` is the
    selection rank 0..k'−1 of the point's nearest exemplar and
    ``exemplar_dist`` its cosine distance to it — ``max(exemplar_
    dist)`` is the covering radius, bounded by the exact greedy's
    2-approximation plus the quantization radius of the pre-reduce.
    This is the composition the kcenter_select docstring recommends
    for large k, as a callable (round-9 task 5)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    cents = ivf_train(corpus, n_lists=max(n_centroids, k),
                      id_col=id_col, vec_col=vec_col,
                      sample=max(sample, 4 * max(n_centroids, k)),
                      iters=iters, seed=seed)
    sel, _ = kcenter_numpy(cents, k)
    exemplars = cents[sel]              # (k', dim), pick order
    assign_dist = _ivf_assign_dist_udf(exemplars)
    return (corpus
            .select(F.col(id_col),
                    assign_dist(F.col(vec_col)).alias("__a"))
            .select(id_col,
                    F.col("__a.list_id").alias("exemplar"),
                    F.col("__a.dist").alias("exemplar_dist")))
