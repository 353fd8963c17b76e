"""IVF-PQ approximate nearest neighbor: product-quantized residual
codes + asymmetric-distance (ADC) scanning.

This is the memory-path complement to similarity.py's IVF-Flat: at
100 TB of embeddings the candidate scan itself is the bottleneck —
IVF-Flat still shuffles and dot-products full float vectors for every
probed candidate.  IVF-PQ (Jégou et al. 2011, "Product Quantization
for Nearest Neighbor Search"; FAISS IndexIVFPQ semantics) stores each
corpus vector as ``m`` one-byte codebook indices over its residual to
the coarse centroid — dim·8 bytes → m bytes (64× at dim=64, m=8) —
and scores candidates with per-query lookup tables instead of dot
products:

    score(q, v) ≈ q·c_list  +  Σ_s  LUT_q[s][code_s(v)]

where ``LUT_q[s][j] = q_s · codebook[s][j]`` is built once per query
(m·ksub values, ~16 KB), and the candidate scan is pure uint8 gathers
— vectorized numpy over Arrow batches here, SIMD in FAISS.

Spark shape: training is driver-side numpy over the same bounded
TakeOrdered sample ivf_train uses; encoding is one corpus scan (Arrow
kernel, normalize → assign → residual → per-subspace argmax); search
broadcasts queries, joins on list_id (partition pruning against a
persisted layout), and the ADC kernel never materializes a float
vector per candidate.  Optional exact rerank re-scores only the top-R
approximate candidates per query with true cosine — the standard
recall recipe.

All cosine semantics: vectors are L2-normalized before encoding, so
inner product == cosine and the coarse quantizer is the spherical
k-means similarity.py already ships.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity import _spherical_kmeans, cosine_double

__all__ = ["pq_train", "pq_encode", "ivfpq_topk",
           "ivfpq_persist", "ivfpq_topk_persisted", "ivfpq_load_codec",
           "ivfpq_append", "ivfpq_staleness", "ivfpq_retrain"]


def _sample_vectors(corpus: DataFrame, id_col: str, vec_col: str,
                    sample: int) -> np.ndarray:
    """Deterministic hash-ordered bounded sample (the ivf_train
    contract: per-partition TakeOrdered by xxhash64(id), no full
    shuffle, driver memory capped at sample·dim·8 B)."""
    rows = (corpus.select(F.col(id_col).alias("i"),
                          F.col(vec_col).alias("v"))
            .orderBy(F.xxhash64(F.col("i")))
            .limit(sample).collect())
    v = np.array([np.asarray(r["v"], dtype=np.float64) for r in rows])
    return v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)


def _kmeans(x: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Plain deterministic Euclidean k-means (residual subspaces are
    not unit vectors — spherical would be wrong here).  Empty clusters
    keep their previous centroid, matching _spherical_kmeans."""
    rng = np.random.RandomState(seed)
    k = min(k, len(x))
    idx = rng.choice(len(x), size=k, replace=False)
    cent = x[np.sort(idx)].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return cent


class PQCodec:
    """Coarse centroids + per-subspace codebooks; numpy-only, ships to
    executors in UDF closures (n_lists·dim·8 + m·ksub·dsub·8 bytes —
    a few hundred KB at typical settings)."""

    def __init__(self, centroids: np.ndarray, codebooks: np.ndarray):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.codebooks = np.asarray(codebooks, dtype=np.float64)
        self.n_lists, self.dim = self.centroids.shape
        self.m, self.ksub, self.dsub = self.codebooks.shape
        if self.m * self.dsub != self.dim:
            raise ValueError("codebook subspaces do not tile dim")

    def encode_block(self, mat: np.ndarray):
        """(n, dim) unit vectors → (list_ids int32 (n,), codes uint8
        (n, m)).  One matmul for coarse assignment, one per subspace
        for the residual codes."""
        sims = mat @ self.centroids.T
        lists = sims.argmax(axis=1).astype(np.int32)
        resid = mat - self.centroids[lists]
        n = len(mat)
        codes = np.empty((n, self.m), dtype=np.uint8)
        for s in range(self.m):
            sub = resid[:, s * self.dsub:(s + 1) * self.dsub]
            cb = self.codebooks[s]
            # argmin ||sub - cb||² == argmax (sub·cb - ||cb||²/2)
            scores = sub @ cb.T - 0.5 * (cb * cb).sum(axis=1)
            codes[:, s] = scores.argmax(axis=1).astype(np.uint8)
        return lists, codes

    def decode_block(self, lists: np.ndarray,
                     codes: np.ndarray) -> np.ndarray:
        out = self.centroids[lists].copy()
        for s in range(self.m):
            out[:, s * self.dsub:(s + 1) * self.dsub] += \
                self.codebooks[s][codes[:, s]]
        return out


def pq_train(corpus: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", n_lists: int = 16,
             m: int = 8, ksub: int = 256, sample: int = 4096,
             iters: int = 10, seed: int = 7) -> PQCodec:
    """Train coarse quantizer + residual PQ codebooks on one bounded
    deterministic sample.  ``m`` must divide the embedding dim; ksub
    ≤ 256 so codes stay one byte per subspace."""
    if not 1 <= ksub <= 256:
        raise ValueError("ksub must be in [1, 256] (one-byte codes)")
    v = _sample_vectors(corpus, id_col, vec_col, sample)
    dim = v.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide embedding dim {dim}")
    dsub = dim // m
    centroids = _spherical_kmeans(v, n_lists, iters=iters, seed=seed)
    assign = (v @ centroids.T).argmax(axis=1)
    resid = v - centroids[assign]
    books = []
    for s in range(m):
        sub = resid[:, s * dsub:(s + 1) * dsub]
        cb = _kmeans(sub, ksub, iters=iters, seed=seed + 1 + s)
        if len(cb) < ksub:   # tiny sample: pad with repeats so codes
            cb = np.vstack([cb] * ((ksub + len(cb) - 1) // len(cb)))[:ksub]
        books.append(cb)
    codebooks = np.stack(books)
    return PQCodec(centroids, codebooks)


_ENC_T = T.StructType([T.StructField("list_id", T.IntegerType()),
                       T.StructField("codes", T.BinaryType()),
                       T.StructField("dist", T.DoubleType())])


def _encode_udf(codec: PQCodec):
    """(list_id, codes, dist): dist is the coarse assignment distance
    1 − cosine to the nearest centroid — free at encode time, and the
    same drift signal similarity.ivf_persist/append account with.

    Null / wrong-dimension vectors encode to (list_id=-1, codes=b'',
    dist=null) instead of killing the Arrow batch — the decoder-
    hardening contract multimodal.py applies to untrusted payloads;
    pq_encode / persist / append drop those rows so the index only
    ever holds probeable vectors."""
    cent = codec.centroids.copy()
    books = codec.codebooks.copy()
    dim = codec.dim

    @F.pandas_udf(_ENC_T)
    def enc(v: pd.Series) -> pd.DataFrame:
        c = PQCodec(cent, books)
        rows = [np.asarray(x, dtype=np.float64)
                if x is not None else None for x in v]
        ok = np.array([r is not None and r.ndim == 1 and len(r) == dim
                       and np.isfinite(r).all() for r in rows])
        lists = np.full(len(rows), -1, dtype=np.int32)
        dist = np.full(len(rows), np.nan)
        out_codes = [b""] * len(rows)
        if ok.any():
            mat = np.stack([rows[i] for i in np.nonzero(ok)[0]])
            mat = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            ls, cs = c.encode_block(mat)
            ds = 1.0 - (mat * cent[ls]).sum(axis=1)
            for j, i in enumerate(np.nonzero(ok)[0]):
                lists[i] = ls[j]
                dist[i] = ds[j]
                out_codes[i] = cs[j].tobytes()
        return pd.DataFrame({"list_id": lists, "codes": out_codes,
                             "dist": dist})
    return enc


def pq_encode(corpus: DataFrame, codec: PQCodec,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """One scan → (id, list_id, codes binary[m]).  This is the table
    worth persisting partitioned by list_id at scale: m bytes per
    vector instead of dim·8, so the whole candidate-scan working set
    is 64× smaller before any pruning."""
    enc = _encode_udf(codec)
    return corpus.select(F.col(id_col).alias("n_id"),
                         enc(F.col(vec_col)).alias("e")) \
        .filter(F.col("e.list_id") >= 0) \
        .select("n_id", F.col("e.list_id").alias("list_id"),
                F.col("e.codes").alias("codes"))  # dist dropped here


def _adc_mapper(codec: PQCodec):
    """mapInPandas over (q_id, q_vec, list_id, n_id, codes) candidate
    rows: per distinct query in the batch, build the (m, ksub) lookup
    table once; every candidate is then m uint8 gathers + a sum —
    no float vectors per candidate anywhere."""
    cent = codec.centroids.copy()
    books = codec.codebooks.copy()
    m, ksub, dsub = books.shape

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qmat = np.stack([np.asarray(x, dtype=np.float64)
                             for x in pdf["q_vec"]])
            qmat = qmat / np.maximum(
                np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
            codes = np.frombuffer(b"".join(pdf["codes"]),
                                  dtype=np.uint8).reshape(len(pdf), m)
            lists = pdf["list_id"].to_numpy()
            scores = np.zeros(len(pdf))
            # group rows by query so each LUT is built exactly once
            qi = pd.factorize(pdf["q_id"])[0]
            for g in range(qi.max() + 1):
                rows = np.nonzero(qi == g)[0]
                qn = qmat[rows[0]]
                lut = np.einsum("sd,skd->sk",
                                qn.reshape(m, dsub), books)
                offs = cent @ qn
                sub = codes[rows]
                s = offs[lists[rows]]
                for ss in range(m):
                    s = s + lut[ss][sub[:, ss]]
                scores[rows] = s
            yield pd.DataFrame({"q_id": pdf["q_id"],
                                "n_id": pdf["n_id"],
                                "score": scores})
    return gen


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               n_lists: int = 16, m: int = 8, ksub: int = 256,
               nprobe: int = 4, rerank: int | None = None,
               sample: int = 4096, iters: int = 10, seed: int = 7,
               codec: PQCodec | None = None,
               codes: DataFrame | None = None) -> DataFrame:
    """IVF-PQ cosine top-k.  Candidates come from the query's
    ``nprobe`` nearest lists; scoring is ADC over m-byte codes;
    ``rerank=R`` re-scores each query's top-R approximate hits with
    exact cosine against the true vectors (join back to the corpus —
    R rows per query, not the candidate set) and returns top-k of
    those.  Pass a pre-trained ``codec`` / pre-encoded ``codes`` table
    to reuse an index across calls (the persisted-layout path).

    Output: (q_id, n_id, rk, cosine) — with rerank, ``cosine`` is the
    exact value; without, it is the ADC approximation (documented
    approximate, like est_jaccard on LSH candidates).

    Choosing R: ADC resolves BETWEEN clusters far better than WITHIN
    a tight cluster (quantization error ~ the noise scale separating
    true near neighbors), so recall comes from the rerank depth, not
    code precision — R ≈ 10·k recovers full recall where R = 5·k
    loses ~30% on tightly-clustered corpora (measured; raising ksub
    64→256 with R = 5·k only reached 0.89).  The FAISS guidance is
    the same shape."""
    if codec is None:
        codec = pq_train(corpus, id_col, vec_col, n_lists=n_lists,
                         m=m, ksub=ksub, sample=sample, iters=iters,
                         seed=seed)
    if codes is None:
        codes = pq_encode(corpus, codec, id_col, vec_col)

    from .similarity import _ivf_assign_udf
    q_assign = _ivf_assign_udf(codec.centroids, nprobe=nprobe)
    q = (queries.select(F.col(id_col).alias("q_id"),
                        F.col(vec_col).alias("q_vec"),
                        F.explode(q_assign(F.col(vec_col)))
                        .alias("list_id")))
    cand = (codes.join(F.broadcast(q), "list_id")
            .filter(F.col("q_id") != F.col("n_id")))
    scored = cand.select("q_id", "q_vec", "list_id", "n_id", "codes") \
        .mapInPandas(_adc_mapper(codec), T.StructType([
            T.StructField("q_id", cand.schema["q_id"].dataType),
            T.StructField("n_id", cand.schema["n_id"].dataType),
            T.StructField("score", T.DoubleType())]))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    if rerank is None:
        return (scored.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= k)
                .select("q_id", "n_id", "rk",
                        F.col("score").alias("cosine")))
    shortlist = (scored.withColumn("rk", F.row_number().over(w))
                 .filter(F.col("rk") <= max(rerank, k))
                 .select("q_id", "n_id"))
    nvec = corpus.select(F.col(id_col).alias("n_id"),
                         F.col(vec_col).alias("n_vec"))
    qvec = queries.select(F.col(id_col).alias("q_id"),
                          F.col(vec_col).alias("q_vec"))
    exact = (shortlist.join(F.broadcast(qvec), "q_id")
             .join(nvec, "n_id")
             .select("q_id", "n_id",
                     cosine_double(F.col("q_vec"), F.col("n_vec"))
                     .alias("cosine")))
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cosine"),
                                            F.asc("n_id"))
    return (exact.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= k)
            .select("q_id", "n_id", "rk", "cosine"))


def ivfpq_append(spark, path: str, new_vectors: DataFrame,
                 write_partitions: int | None = None,
                 txn: tuple[str, int] | None = None) -> int:
    """Admit a batch into a persisted IVF-PQ index: encode with the
    FROZEN codec (`_codec.npz`) and append into the partitionBy
    layout — O(batch) per ingest, hash-repartitioned on list_id so an
    append writes ≈ one file per touched list (the ivf_append
    contract).  Coarse-assignment drift accounting rides the write
    job's Observation into the store manifest exactly as
    similarity.ivf_append does; check it with :func:`ivfpq_staleness`
    and re-persist with a fresh codec when the ratio climbs (PQ adds
    a second drift surface — the RESIDUAL codebooks — but residuals
    shrink when coarse fit improves, so the coarse signal is the
    conservative trigger for both).  Returns rows admitted.

    Durability contract as similarity.ivf_append: staged write, one
    atomic manifest swap carrying data + drift accounting together."""
    from pyspark.sql import Observation

    from ..indexstore import IndexStore
    from .similarity import _read_meta

    store = IndexStore(path)
    if store.replayed(txn):
        return 0  # replayed streaming epoch: already committed
    if new_vectors.isEmpty():   # empty epoch: tag only (ivf_append)
        store.tag(txn=txn)
        return 0
    meta = _read_meta(path)
    if meta is None:
        raise ValueError(f"no index meta under {path}")
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    codec = ivfpq_load_codec(path)
    vec_type = meta.get("vec_type")
    if vec_type:
        new_vectors = new_vectors.withColumn(
            vec_col, F.col(vec_col).cast(f"array<{vec_type}>"))
    enc = _encode_udf(codec)
    obs = Observation()
    out = (new_vectors.select(F.col(id_col), F.col(vec_col),
                              enc(F.col(vec_col)).alias("__e"))
           .filter(F.col("__e.list_id") >= 0)  # null/bad rows dropped
           .select(id_col, vec_col,
                   F.col("__e.list_id").alias("list_id"),
                   F.col("__e.codes").alias("codes"),
                   F.col("__e.dist").alias("__dist"))
           .observe(obs, F.count(F.lit(1)).alias("n"),
                    F.sum("__dist").alias("dist_sum"))
           .drop("__dist"))
    if write_partitions is None:
        write_partitions = min(spark.sparkContext.defaultParallelism,
                               max(1, codec.n_lists))
    out = out.repartition(write_partitions, "list_id")
    staged = store.stage()
    out.write.mode("overwrite").partitionBy("list_id").parquet(staged)
    try:
        n = int(obs.get["n"])
        ds = float(obs.get["dist_sum"] or 0.0)
    except Exception:  # CollectMetrics eliminated on empty result
        n, ds = 0, 0.0
    if n == 0:      # row-less batch: tag only, no empty version dir
        import shutil

        shutil.rmtree(staged, ignore_errors=True)
        store.tag(txn=txn)
        return 0
    # accounting folds under the commit critical section (meta_fn) —
    # concurrent appends can't lose drift counters to pre-lock reads
    def _fold(cur: dict) -> dict:
        out = dict(cur)
        out["appended_n"] = out.get("appended_n", 0) + n
        out["appended_dist_sum"] = out.get("appended_dist_sum", 0.0) + ds
        out["last_append_n"] = n
        out["last_append_mean_dist"] = ds / n
        return out

    store.commit(staged, replace=False, meta_fn=_fold, txn=txn)
    return n


def ivfpq_staleness(path: str) -> dict:
    """O(1) drift signal for a persisted IVF-PQ index — identical
    semantics to similarity.ivf_staleness (same meta accounting), no
    data read."""
    from .similarity import ivf_staleness

    return ivf_staleness(path)


def ivfpq_retrain(spark, path: str, n_lists: int | None = None,
                  m: int | None = None, ksub: int | None = None,
                  sample: int = 4096, iters: int = 10,
                  seed: int = 7) -> PQCodec:
    """Re-train coarse centroids AND residual codebooks from the
    vectors already stored in the index (the persisted table carries
    them precisely so maintenance never needs the source corpus) and
    re-persist — the step ``ivfpq_staleness`` calls for.  Resets the
    drift accounting.  WRITES BESIDE AND SWAPS (round-8 task 1, the
    ivf_retrain contract): the rebuild reads the old committed dirs,
    the new index commits via one atomic manifest swap, and the old
    version survives under GC grace — a crash mid-retrain never
    destroys the index."""
    from ..indexstore import open_index
    from .similarity import _read_meta

    import os

    from ..indexstore import CommitConflict

    meta = _read_meta(path) or {}
    id_col = meta.get("id_col", "vec_id")
    vec_col = meta.get("vec_col", "embedding")
    old = ivfpq_load_codec(path)
    store = open_index(path)
    # pinned snapshot + conflict-on-extra: a batch appended during the
    # retrain carries OLD-codec codes/assignments — the swap conflicts
    # and the retrain re-runs over the larger index (ADVICE round 8)
    for _ in range(3):
        paths = store.dirs()
        corpus = store.read_from(spark, paths).select(id_col, vec_col)
        try:
            return ivfpq_persist(
                corpus, path, id_col=id_col, vec_col=vec_col,
                n_lists=n_lists or old.n_lists, m=m or old.m,
                ksub=ksub or old.ksub, sample=sample, iters=iters,
                seed=seed,
                _expected_dirs=[os.path.basename(p) for p in paths])
        except CommitConflict:
            continue
    raise CommitConflict(
        f"ivfpq_retrain lost 3 rebuild races under {path}")


# --------------------------------------------------------------------
# persisted index: one list_id-partitioned table carrying BOTH the
# m-byte codes and the original vector — parquet is columnar, so the
# ADC scan that projects (id, codes) never reads the vector column
# chunks, and the rerank reads vectors only for the shortlist.  Same
# partition-pruned probe contract as similarity.ivf_persist.

def ivfpq_persist(corpus: DataFrame, path: str,
                  codec: PQCodec | None = None,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  n_lists: int = 16, m: int = 8, ksub: int = 256,
                  sample: int = 4096, iters: int = 10,
                  seed: int = 7,
                  _expected_dirs: list[str] | None = None) -> PQCodec:
    """Materialize an IVF-PQ index: rows (id, vec, codes) written
    partitionBy(list_id), codec (coarse centroids + codebooks) saved
    as ``_codec.npz`` beside it.  Probes prune at the partition level
    AND at the column level: the ADC pass reads m bytes per vector,
    the exact rerank reads full vectors for shortlist rows only.

    Durability: data + codec land in a STAGED dir and become visible
    through one atomic manifest swap (indexstore.IndexStore) — a
    rebuild keeps the old version readable until the new one commits
    (round-8 task 1)."""
    import os

    from pyspark.sql import Observation

    from ..indexstore import IndexStore

    if codec is None:
        codec = pq_train(corpus, id_col, vec_col, n_lists=n_lists,
                         m=m, ksub=ksub, sample=sample, iters=iters,
                         seed=seed)
    enc = _encode_udf(codec)
    nparts = min(corpus.sparkSession.sparkContext.defaultParallelism,
                 max(1, codec.n_lists))
    store = IndexStore(path)
    staged = store.stage()
    obs = Observation()
    (corpus.select(F.col(id_col), F.col(vec_col),
                   enc(F.col(vec_col)).alias("__e"))
     .filter(F.col("__e.list_id") >= 0)   # null/bad vectors dropped
     .select(id_col, vec_col, F.col("__e.list_id").alias("list_id"),
             F.col("__e.codes").alias("codes"),
             F.col("__e.dist").alias("__dist"))
     .observe(obs, F.avg("__dist").alias("mean_dist"),
              F.count(F.lit(1)).alias("n"))
     .drop("__dist")
     .repartition(nparts, "list_id")
     .write.mode("overwrite").partitionBy("list_id").parquet(staged))
    np.savez(os.path.join(staged, "_codec.npz"),
             centroids=codec.centroids, codebooks=codec.codebooks)
    # retrain path: see similarity.ivf_persist — extra dirs carry
    # old-codec codes, so conflict instead of keeping them
    store.commit(staged, replace=True,
                 expected_dirs=_expected_dirs, on_extra="conflict",
                 meta={
        "id_col": id_col, "vec_col": vec_col,
        "n_lists": codec.n_lists, "m": codec.m,
        "ksub": codec.ksub, "dim": codec.dim,
        "build_n": int(obs.get["n"]),
        "build_mean_dist": float(obs.get["mean_dist"] or 0.0),
        "appended_n": 0, "appended_dist_sum": 0.0,
        "vec_type": corpus.schema[vec_col].dataType
        .elementType.simpleString()})
    return codec


def ivfpq_load_codec(path: str) -> PQCodec:
    from ..indexstore import open_index

    z = np.load(open_index(path).artifact("_codec.npz"))
    return PQCodec(z["centroids"], z["codebooks"])


def ivfpq_topk_persisted(spark, path: str, queries: DataFrame,
                         k: int = 5, nprobe: int = 4,
                         rerank: int | None = None) -> DataFrame:
    """ANN top-k over a persisted IVF-PQ index: the probed
    ``list_id.isin(...)`` lands in the scan's PartitionFilters, the
    ADC pass projects only (id, codes) — column pruning keeps the
    full vectors on disk — and rerank joins true vectors back for the
    shortlist alone.  Scoring semantics identical to ivfpq_topk."""
    from ..indexstore import open_index
    from .similarity import _read_meta

    store = open_index(path)
    meta = _read_meta(path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    codec = ivfpq_load_codec(path)

    from .similarity import _ivf_assign_udf
    q_assign = _ivf_assign_udf(codec.centroids, nprobe=nprobe)
    q = (queries.select(F.col(id_col).alias("q_id"),
                        F.col(vec_col).alias("q_vec"),
                        F.explode(q_assign(F.col(vec_col)))
                        .alias("list_id")))
    probed = sorted({int(r["list_id"]) for r in
                     q.select("list_id").distinct().collect()})
    codes = (store.read(spark)
             .filter(F.col("list_id").isin(probed))
             .select(F.col(id_col).alias("n_id"), "list_id", "codes"))
    cand = (codes.join(F.broadcast(q), "list_id")
            .filter(F.col("q_id") != F.col("n_id")))
    scored = cand.select("q_id", "q_vec", "list_id", "n_id", "codes") \
        .mapInPandas(_adc_mapper(codec), T.StructType([
            T.StructField("q_id", cand.schema["q_id"].dataType),
            T.StructField("n_id", cand.schema["n_id"].dataType),
            T.StructField("score", T.DoubleType())]))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    if rerank is None:
        return (scored.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= k)
                .select("q_id", "n_id", "rk",
                        F.col("score").alias("cosine")))
    shortlist = (scored.withColumn("rk", F.row_number().over(w))
                 .filter(F.col("rk") <= max(rerank, k))
                 .select("q_id", "n_id"))
    nvec = (store.read(spark)
            .filter(F.col("list_id").isin(probed))
            .select(F.col(id_col).alias("n_id"),
                    F.col(vec_col).alias("n_vec")))
    qvec = queries.select(F.col(id_col).alias("q_id"),
                          F.col(vec_col).alias("q_vec"))
    exact = (shortlist.join(F.broadcast(qvec), "q_id")
             .join(nvec, "n_id")
             .select("q_id", "n_id",
                     cosine_double(F.col("q_vec"), F.col("n_vec"))
                     .alias("cosine")))
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cosine"),
                                            F.asc("n_id"))
    return (exact.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= k)
            .select("q_id", "n_id", "rk", "cosine"))
