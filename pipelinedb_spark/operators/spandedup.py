"""Span-level exact-substring deduplication: find and remove token
spans that occur more than once ACROSS (or within) documents.

Doc-level dedup (dedup.py) drops whole near-identical documents; it
cannot touch the boilerplate PASSAGES — license headers, navigation
chrome, quoted tweets — that repeat verbatim inside otherwise-unique
pages.  Training-data pipelines remove those at the substring level
(Lee et al. 2021, "Deduplicating Training Data Makes Language Models
Better": repeated >=50-token substrings).  The published approach is a
single-machine suffix array; this module re-expresses the semantics
Spark-first so it scales out:

* **Window hashing, one scan.**  Every K-token window of every doc
  gets a 64-bit polynomial hash over the batch-vectorized token-hash
  array (same kernel family as dedup.py's shingle index — a handful of
  fused numpy passes per Arrow batch, no per-token Python).  A window
  that repeats anywhere in the corpus has a repeating hash; a repeated
  run LONGER than K tokens repeats on every one of its K-windows, so
  the union of duplicated windows recovers the full span — the
  suffix-array result, without the suffix array.
* **Duplicate detection is a partial-aggregable groupBy.**  Per-hash
  (count, first occurrence) aggregate — map-side combinable, state
  O(distinct windows in flight), never a collect_list of occurrence
  lists (a boilerplate window shared by 1M docs contributes one
  counter, not a 1M-element buffer).
* **Occurrence recovery is a shuffle-hash join** of the window index
  against the (tiny relative to corpus) duplicated-hash table, pinned
  off broadcast-at-small-SF like every corpus-sized join in dedup.py.
* **Span assembly is per-doc and bounded** (sorted position list →
  merged intervals), the same per-doc-bounded contract every text
  kernel in this package assumes.

Collision note: a 64-bit mixed hash over token-hash windows false-
merges two distinct windows with probability ~W²/2⁶⁵ for W distinct
windows — negligible next to the policy's own approximation (window
granularity) and the same contract shingle_index documents.

Tokenization is whitespace splitting, consistent with dedup.py /
text.py; `remove_duplicated_spans` therefore reconstructs cleaned text
single-space-joined (documented on the function — only docs that had
spans removed are rewritten).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _batch_token_hashes

__all__ = ["window_index", "duplicated_spans", "remove_duplicated_spans",
           "span_index_persist", "span_index_probe", "span_index_append",
           "span_index_compact"]


def _batch_windows(texts, window: int, pos_mult, c1):
    """(doc_idx, pos, hash) for EVERY K-token window of an Arrow batch.

    Same vectorized shape as dedup._batch_grams but positions are kept
    and nothing is deduped — span recovery needs every occurrence site.
    Returns arrays sorted in natural (doc, pos) order by construction.
    """
    import numpy as np

    th, offs = _batch_token_hashes(texts)
    nd = len(texts)
    n = len(th)
    m = n - window + 1
    if m <= 0:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.uint64))
    g = np.zeros(m, dtype=np.uint64)
    for j in range(window):
        g += th[j: m + j] * pos_mult[j]
    g ^= g >> np.uint64(33)
    g = g * c1
    g ^= g >> np.uint64(29)
    tok_doc = np.repeat(np.arange(nd, dtype=np.int64), np.diff(offs))
    # a window is valid when it does not straddle two docs of the
    # flattened batch: its first and last token share a doc index
    valid = tok_doc[:m] == tok_doc[window - 1: n]
    g = g[valid]
    gdoc = tok_doc[:m][valid]
    gpos = (np.arange(m, dtype=np.int64)[valid]
            - offs[gdoc])          # doc-relative token position
    return gdoc, gpos, g


def _window_hash_mapper(window: int):
    import numpy as np

    rng = np.random.RandomState(0x5EED ^ 0x51A2)
    pos_mult = (rng.randint(1, 2 ** 63, size=window,
                            dtype=np.uint64) | np.uint64(1))
    c1 = np.uint64(0xFF51AFD7ED558CCD)

    def gen(batches):
        old = np.seterr(over="ignore")
        try:
            for pdf in batches:
                gdoc, gpos, g = _batch_windows(pdf["text"], window,
                                               pos_mult, c1)
                if len(g):
                    yield pd.DataFrame({
                        "doc_id": pdf["doc_id"].to_numpy()[gdoc],
                        "pos": gpos,
                        "whash": g.astype(np.int64)})
        finally:
            np.seterr(**old)

    return gen


def window_index(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", window: int = 50) -> DataFrame:
    """(doc_id, pos, whash): 64-bit hash of every K-token window.

    One corpus scan, column-pruned to (id, text); output is ~one row
    per TOKEN (24 bytes each) — the linear-shuffle cost that replaces
    the reference approach's single-node suffix array.
    """
    from . import spread_input
    src = spread_input(df.select(F.col(id_col).alias("doc_id"),
                                 F.col(text_col).alias("text")))
    out_schema = T.StructType([
        T.StructField("doc_id", src.schema["doc_id"].dataType),
        T.StructField("pos", T.LongType()),
        T.StructField("whash", T.LongType())])
    return src.mapInPandas(_window_hash_mapper(window), out_schema)


_SPAN_T = T.ArrayType(T.StructType([
    T.StructField("span_start", T.LongType()),
    T.StructField("span_end", T.LongType())]))


def _merge_positions_udf(window: int):
    """Sorted window-start positions → merged [start, end) token spans
    (each window covers [pos, pos+K); overlapping/adjacent windows
    coalesce into one span)."""
    @F.pandas_udf(_SPAN_T)
    def merge(ps: pd.Series) -> pd.Series:
        out = []
        for positions in ps:
            spans = []
            start = end = None
            for p in positions:
                p = int(p)
                if start is None:
                    start, end = p, p + window
                elif p <= end:          # overlaps or touches
                    end = p + window
                else:
                    spans.append({"span_start": start, "span_end": end})
                    start, end = p, p + window
            if start is not None:
                spans.append({"span_start": start, "span_end": end})
            out.append(spans)
        return pd.Series(out)
    return merge


def duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", window: int = 50,
                     keep: str = "first") -> DataFrame:
    """Token spans duplicated elsewhere in the corpus (incl. repeats
    within one document).

    Returns (doc_id, span_start, span_end): half-open token-index
    intervals, per-doc disjoint and sorted, each the union of K-token
    windows whose hash occurs more than once corpus-wide.

    keep='first' exempts the canonical occurrence of each window —
    the smallest (doc_id, pos) — so exactly one copy of every repeated
    passage survives removal (the dedup policy).  keep='none' marks
    every occurrence (the scrub policy: strip boilerplate everywhere;
    this is what Lee et al.'s released tool does by default).

    Scale shape: window index (1 row/token) → partial-agg per-hash
    (count, min occurrence) → shuffle-hash join back for occurrence
    sites (output ∝ duplicated windows only) → per-doc interval merge
    (state bounded by doc length).  No stage holds per-hash occurrence
    lists, so a million-way-shared boilerplate window costs one
    counter, not a million-element buffer.
    """
    if keep not in ("first", "none"):
        raise ValueError("keep must be 'first' or 'none'")
    # materialize once: the index feeds both the dup-hash aggregate and
    # the occurrence join (same reason lsh_candidates checkpoints sigs)
    wins = window_index(df, id_col, text_col, window) \
        .localCheckpoint(eager=False)
    agg = [F.count("*").alias("__n")]
    if keep == "first":
        agg.append(F.min(F.struct("doc_id", "pos")).alias("__first"))
    dups = wins.groupBy("whash").agg(*agg).filter(F.col("__n") > 1)
    # corpus-sized probe side: pin shuffle-hash — Spark would broadcast
    # `dups` under the threshold at small SF, which is the wrong plan
    # once the duplicated-window table scales with the corpus
    marked = wins.join(dups.hint("shuffle_hash"), "whash")
    if keep == "first":
        marked = marked.filter(
            ~((F.col("doc_id") == F.col("__first.doc_id")) &
              (F.col("pos") == F.col("__first.pos"))))
    per_doc = (marked.groupBy("doc_id")
               .agg(F.sort_array(F.collect_list("pos")).alias("__ps")))
    merge = _merge_positions_udf(window)
    return (per_doc
            .select("doc_id", F.explode(merge(F.col("__ps"))).alias("sp"))
            .select("doc_id", F.col("sp.span_start").alias("span_start"),
                    F.col("sp.span_end").alias("span_end")))


def _strip_spans_udf():
    @F.pandas_udf(T.StructType([
        T.StructField("text", T.StringType()),
        T.StructField("removed_tokens", T.LongType())]))
    def strip(text: pd.Series, spans: pd.Series) -> pd.DataFrame:
        texts, removed = [], []
        for t, sp in zip(text, spans):
            if sp is None or len(sp) == 0 or not isinstance(t, str):
                texts.append(t)
                removed.append(0)
                continue
            toks = t.split(" ")
            keep = [True] * len(toks)
            n_rm = 0
            for s in sp:
                a = max(0, int(s["span_start"]))
                b = min(len(toks), int(s["span_end"]))
                for i in range(a, b):
                    if keep[i]:
                        keep[i] = False
                        n_rm += 1
            texts.append(" ".join(tk for tk, k in zip(toks, keep) if k))
            removed.append(n_rm)
        return pd.DataFrame({"text": texts, "removed_tokens": removed})
    return strip


def remove_duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", window: int = 50,
                            keep: str = "first",
                            spans: DataFrame | None = None) -> DataFrame:
    """Rewrite ``text_col`` with duplicated spans removed; adds a
    ``removed_tokens`` count column.

    ``spans`` defaults to :func:`duplicated_spans` over the same frame
    (pass a precomputed/filtered span table to apply a custom policy).
    Docs with no duplicated spans pass through byte-identical; docs
    that are rewritten come back single-space-joined over the
    whitespace tokenization (the same normalization every dedup kernel
    here applies before hashing).
    """
    if spans is None:
        spans = duplicated_spans(df, id_col, text_col, window, keep)
    per_doc = (spans.groupBy("doc_id")
               .agg(F.collect_list(
                   F.struct("span_start", "span_end")).alias("__spans")))
    joined = df.join(
        per_doc.withColumnRenamed("doc_id", "__sd_id").hint("shuffle_hash"),
        F.col(id_col) == F.col("__sd_id"), "left")
    strip = _strip_spans_udf()
    res = joined.withColumn("__out",
                            strip(F.col(text_col), F.col("__spans")))
    keep_cols = [c for c in df.columns if c != text_col]
    return (res.select(*keep_cols,
                       F.col("__out.text").alias(text_col),
                       F.col("__out.removed_tokens")
                       .alias("removed_tokens")))


# ------------------------------------------------------------------
# persisted incremental index: clean each ingest batch against the
# corpus without re-hashing the corpus (the spandedup analog of
# dedup.py's lsh_index_persist/probe/append and similarity.py's
# ivf_persist/ivf_append)

def _span_meta(path: str) -> dict:
    from ..indexstore import open_index

    return open_index(path).meta()


def _write_window_rows(wins: DataFrame, target: str,
                       write_partitions: int | None) -> None:
    """Hash-repartition on whash to real write parallelism (the
    _write_band_rows contract), rows whash-sorted within files so the
    probe join's scan stays sequential per shuffle partition."""
    if write_partitions is None:
        write_partitions = wins.sparkSession.sparkContext \
            .defaultParallelism
    (wins.repartition(write_partitions, "whash")
     .sortWithinPartitions("whash")
     .write.mode("overwrite").parquet(target))


def span_index_persist(df: DataFrame, path: str, id_col: str = "doc_id",
                       text_col: str = "text", window: int = 50,
                       write_partitions: int | None = None) -> None:
    """Materialize the corpus window-hash index (doc_id, pos, whash).
    The store manifest pins the window size; probes and appends read
    K from it, so a caller can never mix window sizes within one
    index.  Staged write + atomic manifest swap (indexstore) — a
    rebuild keeps the old index readable until the new one commits."""
    from ..indexstore import IndexStore

    store = IndexStore(path)
    wins = window_index(df, id_col, text_col, window)
    staged = store.stage()
    _write_window_rows(wins, staged, write_partitions)
    store.commit(staged, replace=True, meta={"window": window})


def span_index_probe(spark, path: str, new_docs: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     keep: str = "first",
                     broadcast_max_bytes: int = 64 << 20) -> DataFrame:
    """Duplicated spans IN THE NEW BATCH: token spans whose windows
    occur in the indexed corpus, or (batch-internal duplicates) more
    than once within the batch itself.  Returns (doc_id, span_start,
    span_end) over ``new_docs`` only — feed to
    :func:`remove_duplicated_spans` via ``spans=`` to clean the batch
    before admitting it.

    Corpus occurrences are canonical by construction (the indexed copy
    survives), so ``keep`` only governs batch-internal duplicates:
    'first' exempts the smallest (doc_id, pos) occurrence of windows
    seen ONLY inside the batch; 'none' marks every duplicated
    occurrence.

    Only the batch is hashed; the corpus side is a scan of the
    persisted index.  The batch side broadcasts when its Observation-
    counted size fits ``broadcast_max_bytes``, else falls back to a
    pinned shuffle-hash join (the lsh_index_probe gate — force-
    broadcasting a backfill batch would OOM executors)."""
    from pyspark.sql import Observation

    from ..indexstore import open_index

    if keep not in ("first", "none"):
        raise ValueError("keep must be 'first' or 'none'")
    store = open_index(path)
    window = store.meta()["window"]
    obs = Observation()
    wins = (window_index(new_docs, id_col, text_col, window)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True))
    est_bytes = int(obs.get["n"]) * 40   # hash + pos + id + overhead
    corpus = store.read(spark)
    if est_bytes > broadcast_max_bytes:
        probe_side = wins.alias("p")
        corpus_side = corpus.alias("c").hint("shuffle_hash")
    else:
        probe_side = F.broadcast(wins.alias("p"))
        corpus_side = corpus.alias("c")
    corpus_marks = (corpus_side
                    .join(probe_side,
                          F.col("c.whash") == F.col("p.whash"))
                    .select(F.col("p.doc_id").alias("doc_id"),
                            F.col("p.pos").alias("pos"))
                    .distinct())
    # batch-internal duplicates (same aggregate shape as
    # duplicated_spans: counter + first site, never occurrence lists)
    agg = [F.count("*").alias("__n")]
    if keep == "first":
        agg.append(F.min(F.struct("doc_id", "pos")).alias("__first"))
    dups = wins.groupBy("whash").agg(*agg).filter(F.col("__n") > 1)
    batch_marks = wins.join(dups.hint("shuffle_hash"), "whash")
    if keep == "first":
        batch_marks = batch_marks.filter(
            ~((F.col("doc_id") == F.col("__first.doc_id")) &
              (F.col("pos") == F.col("__first.pos"))))
    marked = corpus_marks.unionByName(
        batch_marks.select("doc_id", "pos")).distinct()
    per_doc = (marked.groupBy("doc_id")
               .agg(F.sort_array(F.collect_list("pos")).alias("__ps")))
    merge = _merge_positions_udf(window)
    return (per_doc
            .select("doc_id", F.explode(merge(F.col("__ps"))).alias("sp"))
            .select("doc_id", F.col("sp.span_start").alias("span_start"),
                    F.col("sp.span_end").alias("span_end")))


def span_index_append(spark, path: str, new_docs: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      write_partitions: int | None = None,
                      txn: tuple[str, int] | None = None) -> bool:
    """Admit a (cleaned) batch's windows into the index — append-mode
    parquet in the same whash-repartitioned layout.  Probe → clean →
    append is the continuous-ingest flow; appending the CLEANED text's
    windows keeps the index consistent with what the corpus actually
    retains.  The batch stages under a temp prefix and joins the live
    set via one atomic manifest swap — a mid-append crash leaves no
    partial window batch (the ADVICE r7 commit-marker gap).

    ``txn=(app_id, epoch)`` makes streaming appends effectively-once:
    the tag rides the commit swap and a replayed epoch is skipped
    (returns False) instead of double-indexing the batch."""
    from ..indexstore import open_index

    store = open_index(path)
    if store.replayed(txn):
        return False  # replayed epoch: already committed
    if new_docs.isEmpty():      # empty epoch: tag only
        store.tag(txn=txn)
        return True
    wins = window_index(new_docs, id_col, text_col,
                        store.meta()["window"])
    if wins.isEmpty():
        # window-less batch (all docs shorter than K): tag the epoch
        # done without accumulating an empty version dir.  Checked
        # BEFORE staging: a zero-row repartition write emits only
        # _SUCCESS, and reading that dir back raises
        # UNABLE_TO_INFER_SCHEMA instead of returning empty — the
        # post-write readback permanently failed the epoch on retry.
        # (An Observation on the write is also unreliable here:
        # empty-result plans can eliminate the CollectMetrics node.)
        store.tag(txn=txn)
        return True
    staged = store.stage()
    _write_window_rows(wins, staged, write_partitions)
    store.commit(staged, replace=False, txn=txn)
    return True


def span_index_compact(spark, path: str,
                       write_partitions: int | None = None,
                       max_retries: int = 3) -> int:
    """Rewrite the live version dirs into ONE whash-sorted dir (a
    replace-commit, so the pre-compaction index stays readable until
    the swap and under GC grace after it).  Continuous ingest appends
    one version dir per epoch; compaction restores single-dir probe
    listings without re-hashing any text — the window rows are read
    back as-is.  Returns the number of dirs compacted away.

    The rewrite pins the exact dir snapshot it consumed
    (``expected_dirs``): a batch appended DURING the compaction stays
    live beside the new base, and a concurrent replace-commit retries
    the rebuild instead of silently dropping the loser (ADVICE r8)."""
    import os

    from ..indexstore import CommitConflict, open_index

    store = open_index(path)
    for _ in range(max_retries):
        paths = store.dirs()
        n_dirs = len(paths)
        if n_dirs <= 1:
            return 0
        wins = store.read_from(spark, paths)
        staged = store.stage()
        _write_window_rows(wins, staged, write_partitions)
        try:
            store.commit(staged, replace=True,
                         expected_dirs=[os.path.basename(p)
                                        for p in paths])
            return n_dirs
        except CommitConflict:
            continue
    raise CommitConflict(
        f"span_index_compact lost {max_retries} rebuild races "
        f"under {path}")
