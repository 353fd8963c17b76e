"""Structured Streaming runtime: run continuous views from real
streaming sources.

The synchronous ``PipelineContext.insert`` path is PipelineDB's
micro-batch data path made explicit.  This module drives the *same*
worker/combiner code from a Structured Streaming query via
``foreachBatch`` — which is exactly how a production deployment would
attach Kafka: the source micro-batch replaces the insert batch, and a
per-checkpoint epoch marker makes replayed epochs no-ops (effectively
once; the marker/merge window is at-least-once, the same contract as
the reference's combiner commits + acks, ``src/microbatch.h:50-92``).

Sources:
* ``attach_file_stream`` — file-drop directory (the COPY-into-stream
  analog, reference ``src/copy.c``); new parquet/json files become
  micro-batches.
* ``attach_rate_stream`` — synthetic rate source for soak testing.
* Kafka would be ``spark.readStream.format("kafka")`` with the same
  ``foreachBatch``; not wired here because the container lacks the
  Kafka connector jar.
"""

from __future__ import annotations

import logging
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from pipelinedb_spark.engine import ARRIVAL_COL, CQError, PipelineContext


class StreamAttachment:
    """A running Structured Streaming query feeding one stream's
    consumers through the engine's micro-batch path."""

    def __init__(self, ctx: PipelineContext, stream: str,
                 query: StreamingQuery) -> None:
        self.ctx = ctx
        self.stream = stream
        self.query = query

    def process_all_available(self) -> None:
        """pipeline_flush analog (reference miscutils.c:869-877)."""
        self.query.processAllAvailable()

    def stop(self) -> None:
        self.query.stop()
        active = getattr(self.ctx, "_stream_attachments", {})
        if active.get(self.stream) is self:
            del active[self.stream]


def _claim_stream(ctx: PipelineContext, stream: str) -> dict:
    """One live attachment per stream: epoch ids are per streaming
    query, so two sources feeding one stream would interleave
    independent epoch counters and the replay guard would drop real
    batches."""
    active = getattr(ctx, "_stream_attachments", None)
    if active is None:
        active = {}
        ctx._stream_attachments = active
    prev = active.get(stream)
    if prev is not None and prev.query.isActive:
        raise CQError(f"stream {stream} already has an active streaming "
                      "attachment; stop it before attaching another")
    return active


def _checkpoint_key(checkpoint: str) -> str:
    """Short stable id of a checkpoint location: epoch ids are scoped
    to one streaming query's checkpoint, so the replay marker and the
    per-view txn tags are both keyed by it."""
    import hashlib
    return hashlib.md5(os.path.abspath(checkpoint).encode()).hexdigest()[:12]


def _epoch_path(ctx: PipelineContext, stream: str, checkpoint: str) -> str:
    """Replay marker, keyed by (stream, checkpoint location) — a fresh
    checkpoint dir gets a fresh marker."""
    d = os.path.join(ctx.root, "epochs")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{stream}.{_checkpoint_key(checkpoint)}"
                           ".last_epoch")


def _foreach_batch(ctx: PipelineContext, stream: str, checkpoint: str,
                   transform: Callable[[DataFrame], DataFrame]
                   | None = None
                   ) -> Callable[[DataFrame, int], None]:
    """Effectively-once bridge.  Two cooperating mechanisms:

    * **Per-view transactional epoch tags** (the idempotent-writes
      pattern of lakehouse stores): each CV merge commits
      ``(source app id, epoch)`` inside the SAME atomic manifest swap
      as the data, and a replayed epoch is skipped per view before
      any work.  This closes the old marker-vs-merge crash window —
      a crash between the merge and the marker write can no longer
      double-merge the replayed epoch into a CV.
    * **The stream-level marker file** (atomic rename) remains the
      fast path and the replay guard for TRANSFORMS, whose outputfunc
      side effects have no transactional store — a crash inside the
      window re-fires them once (at-least-once, the same contract as
      the reference's combiner acks, src/microbatch.h:50-92).  The
      marker only advances when no CV reading the stream still holds
      PENDING (commit-interval) batches, so pending epochs lost in a
      crash are re-delivered instead of skipped.

    Scope note: the upgrade covers each view's own state.  CQs
    DOWNSTREAM of an osrel keep the emission-window caveat — if the
    crash lands between an upstream commit and its osrel emission,
    the downstream view misses that epoch's deltas (previously it
    received deltas computed against a double-merged state, which was
    no better)."""
    marker = _epoch_path(ctx, stream, checkpoint)
    app_id = f"sstream::{stream}::{_checkpoint_key(checkpoint)}"

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if os.path.exists(marker):
            with open(marker) as f:
                last = int(f.read().strip() or -1)
            if epoch_id <= last:
                return  # replayed epoch — already fully processed
        sd = ctx.streams[stream]
        if transform is not None:
            # source-shape → stream-shape (e.g. archive files →
            # extracted documents); runs inside the epoch, so the
            # effectively-once guarantees cover the extraction too
            batch_df = transform(batch_df)
        # an epoch is an ordinary batch: insert()'s ingest rule
        ctx._ingest(stream, ctx._coerce_batch(sd, batch_df, None),
                    txn=(app_id, int(epoch_id)))
        if any(ctx.views[r]._pending for r in sd.readers
               if r in ctx.views):
            return  # pending epochs would be skipped by the marker
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(epoch_id))
        os.replace(tmp, marker)

    return handle


def _start(ctx: PipelineContext, stream: str,
           source: Callable[[], DataFrame], checkpoint_dir: str | None,
           default_checkpoint: str, trigger_seconds: float | None = None,
           transform: Callable[[DataFrame], DataFrame] | None = None
           ) -> StreamAttachment:
    """The one attach tail: claim the stream, build the ``source``
    streaming frame, run it through the effectively-once foreachBatch
    bridge under its checkpoint (``checkpoint_dir``, else
    ``<root>/checkpoints/<default_checkpoint>``), start the query and
    register the attachment."""
    active = _claim_stream(ctx, stream)
    checkpoint = checkpoint_dir or os.path.join(ctx.root, "checkpoints",
                                                default_checkpoint)
    writer = (source().writeStream
              .foreachBatch(_foreach_batch(ctx, stream, checkpoint,
                                           transform=transform))
              .option("checkpointLocation", checkpoint))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    att = StreamAttachment(ctx, stream, writer.start())
    active[stream] = att
    return att


def _source_schema(ctx: PipelineContext, stream: str):
    """The stream's declared schema minus arrival_timestamp, which is
    stamped at ingest, not read from the source."""
    schema = ctx.streams[stream].schema
    return type(schema)([f for f in schema.fields if f.name != ARRIVAL_COL])


def attach_file_stream(ctx: PipelineContext, stream: str, source_dir: str,
                       fmt: str = "parquet",
                       checkpoint_dir: str | None = None,
                       trigger_seconds: float | None = None,
                       reader_options: dict | None = None
                       ) -> StreamAttachment:
    """Attach a file-drop directory as a continuous source for
    ``stream``.  Files appearing in ``source_dir`` flow through every
    CV/transform reading the stream.  ``reader_options`` passes
    source options through (e.g. ``maxFilesPerTrigger`` to bound
    micro-batch size under a backlog)."""
    src_schema = _source_schema(ctx, stream)

    def source():
        reader = ctx.spark.readStream.schema(src_schema).format(fmt)
        if fmt == "json":
            reader = reader.option("multiLine", "false")
        for k, v in (reader_options or {}).items():
            reader = reader.option(k, v)
        return reader.load(source_dir)

    return _start(ctx, stream, source, checkpoint_dir, stream,
                  trigger_seconds)


def kafka_reader_options(bootstrap_servers: str, topic: str,
                         starting_offsets: str = "latest") -> dict:
    """Source options for the Kafka reader, validated up front (an
    invalid startingOffsets otherwise surfaces as an opaque JVM error
    at stream start).  Factored from ``attach_kafka_stream`` so the
    option contract is unit-testable without a broker."""
    so = starting_offsets.strip()
    if so not in ("earliest", "latest") and not so.startswith("{"):
        raise CQError(
            f"invalid startingOffsets {starting_offsets!r}: expected "
            "'earliest', 'latest', or a per-partition JSON object")
    if not bootstrap_servers or not topic:
        raise CQError("kafka attachment needs bootstrap servers and "
                      "a topic")
    return {"kafka.bootstrap.servers": bootstrap_servers,
            "subscribe": topic,
            "startingOffsets": so}


def kafka_decode(raw: DataFrame, schema) -> DataFrame:
    """Decode Kafka wire frames (``value`` binary + key/topic/
    partition/offset metadata) into stream rows: JSON value parsed
    against the stream's declared schema, malformed payloads dropped
    (``from_json``'s all-null struct — the reference rejects
    malformed wire inserts per-row; see ``attach_socket_stream`` for
    the all-null-fields caveat).  Pure DataFrame→DataFrame, so the
    contract is testable against a manually-built micro-batch with
    the Kafka wire schema — no broker, no connector jar."""
    from pyspark.sql import functions as F
    parsed = (raw.select(F.from_json(F.col("value").cast("string"),
                                     schema).alias("r"))
              .select("r.*"))
    if schema.fields:
        import functools
        parsed = parsed.filter(functools.reduce(
            lambda a, b: a | b,
            [F.col(f.name).isNotNull() for f in schema.fields]))
    return parsed


def attach_kafka_stream(ctx: PipelineContext, stream: str,
                        bootstrap_servers: str, topic: str,
                        checkpoint_dir: str | None = None,
                        starting_offsets: str = "latest",
                        trigger_seconds: float | None = None
                        ) -> StreamAttachment:
    """Attach a Kafka topic as a continuous source for ``stream`` —
    the production ingestion path (reference reads streams over its
    wire protocol; Spark's equivalent is ``format("kafka")`` +
    ``foreachBatch`` into the same worker/combiner).  Message values
    are JSON-decoded against the stream's declared schema via
    ``kafka_decode``.

    Requires the ``spark-sql-kafka`` connector package on the
    classpath; this container ships without it, so the attachment
    raises a clear CQError at start instead of an opaque
    ClassNotFoundException."""
    src_schema = _source_schema(ctx, stream)

    def source():
        opts = kafka_reader_options(bootstrap_servers, topic,
                                    starting_offsets)
        try:
            raw = ctx.spark.readStream.format("kafka").options(**opts).load()
        except Exception as e:  # connector jar missing / broker unreachable
            raise CQError(
                "kafka source unavailable: the spark-sql-kafka connector "
                f"package is required on the classpath ({e})") from e
        return kafka_decode(raw, src_schema)

    return _start(ctx, stream, source, checkpoint_dir, f"kafka_{stream}",
                  trigger_seconds)


def attach_socket_stream(ctx: PipelineContext, stream: str,
                         host: str, port: int,
                         checkpoint_dir: str | None = None,
                         trigger_seconds: float | None = None
                         ) -> StreamAttachment:
    """Attach a TCP line socket as a continuous source for ``stream``
    — JSON-decoded per line against the stream's declared schema.
    Spark's built-in ``socket`` source needs no connector jar, so this
    is the live wire-protocol-style ingestion path that actually runs
    in this container (the reference accepts stream inserts over its
    postgres wire protocol; Kafka remains the production-durable
    analog).  The socket source is at-most-once by nature (no replay
    on reconnect) — Spark documents it as a dev/test source; rows
    that ARRIVE flow through the same effectively-once foreachBatch
    commit path as every other attachment.

    Caveat: malformed lines are detected as from_json's all-null
    struct, so a WELL-FORMED object whose declared fields are all
    null/absent (e.g. ``{}`` or ``{"k": null}``) is indistinguishable
    from garbage and is likewise dropped.  The reference's wire
    protocol would accept such a row; callers that need all-null rows
    should declare a non-nullable discriminator column (an id or
    arrival sequence) in the stream schema."""
    src_schema = _source_schema(ctx, stream)

    def source():
        return kafka_decode(ctx.spark.readStream.format("socket")
                            .option("host", host).option("port", port)
                            .load(), src_schema)

    return _start(ctx, stream, source, checkpoint_dir, f"socket_{stream}",
                  trigger_seconds)


_BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                       "length long, content binary")


def attach_archive_stream(ctx: PipelineContext, stream: str,
                          source_dir: str, kind: str = "warc",
                          checkpoint_dir: str | None = None,
                          trigger_seconds: float | None = None,
                          payload_limit: int = 1 << 20,
                          max_files_per_trigger: int | None = 1,
                          reader_options: dict | None = None
                          ) -> StreamAttachment:
    """Continuous corpus ingestion: archive SHARDS dropped into
    ``source_dir`` flow through the WARC / WebDataset parsers into
    ``stream`` — the 100 TB crawl-curation shape (new crawl segments
    arrive as files; every CV/transform on the stream updates
    incrementally).

    ``kind``:

    * ``"warc"`` — each shard's response records → curation-ready
      documents (``warc_text_documents`` schema: doc_id, url,
      fetched_at, text).  The stream must declare those columns.
    * ``"warc_records"`` — raw WARC record rows (WARC_SCHEMA).
    * ``"tar"`` — WebDataset samples → media rows
      (``webdataset_media`` schema: media_id, key, kind, payload,
      caption).

    Built on Spark's streaming ``binaryFile`` source (one shard per
    task, listing-based exactly-once file tracking) + the same
    foreachBatch bridge as every other attachment, so the per-view
    transactional epoch tags cover the EXTRACTION too: a crash
    mid-shard replays the whole shard and every view dedups it.
    ``max_files_per_trigger`` bounds shards per micro-batch (a
    backlog of 1 GB shards must not become one giant batch)."""
    from pipelinedb_spark.operators.archives import (tar_members,
                                                     webdataset_media,
                                                     webdataset_samples)
    from pipelinedb_spark.operators.warc import (warc_records,
                                                 warc_text_documents)

    if kind == "warc":
        def transform(files):
            return warc_text_documents(
                warc_records(files, payload_limit))
    elif kind == "warc_records":
        def transform(files):
            return warc_records(files, payload_limit)
    elif kind == "tar":
        def transform(files):
            return webdataset_media(webdataset_samples(
                tar_members(files, payload_limit)))
    else:
        raise CQError(f"unknown archive kind {kind!r}: "
                      "expected warc, warc_records, or tar")

    _ = ctx.streams[stream]  # validates the stream exists

    def source():
        reader = (ctx.spark.readStream.format("binaryFile")
                  .schema(_BINARY_FILE_SCHEMA)
                  .option("pathGlobFilter", "*.warc*"
                          if kind.startswith("warc") else "*.tar*"))
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger",
                                   str(max_files_per_trigger))
        for k, v in (reader_options or {}).items():
            reader = reader.option(k, v)
        return reader.load(source_dir)

    return _start(ctx, stream, source, checkpoint_dir, f"archive_{stream}",
                  trigger_seconds, transform=transform)


class SWTicker:
    """Background sliding-window ticker: periodically re-emits changed
    window results to the CV's output stream (the reference runs this
    inside the combiner every sw_step_ms, src/combiner.c:992)."""

    def __init__(self, ctx: PipelineContext, view: str,
                 interval_seconds: float) -> None:
        import threading

        self.ctx = ctx
        self.view = view
        self.interval = interval_seconds
        self.failures = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "SWTicker":
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            try:
                self.ctx.tick_sw(self.view)
            except Exception as exc:
                # keep ticking; next tick retries — but count and log
                # so a persistently failing ticker is visible (same
                # contract as TTLReaper)
                self.failures += 1
                logging.getLogger(__name__).warning(
                    "SW tick failed for %s (%d failures): %s",
                    self.view, self.failures, exc)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class TTLReaper:
    """Background TTL reaper: periodically deletes expired matrel rows
    across every TTL'd CV (the reference runs a dedicated reaper
    process per database, src/reaper.c:228-352; batch size / interval
    GUCs config.c:397-411).

    ``compact_stale_ratio`` adds the auto-VACUUM analog: after each
    cycle every view's matrel compacts when its estimated dead bytes
    exceed ratio × live bytes (reap/merge churn leaves superseded rows
    in old version dirs; the trigger bounds on-disk amplification to
    (1 + ratio) × live data with no manual ``compact()`` calls).
    ``None`` disables auto-compaction."""

    def __init__(self, ctx: PipelineContext,
                 interval_seconds: float = 60.0,
                 compact_stale_ratio: float | None = 1.0) -> None:
        import threading

        self.ctx = ctx
        self.interval = interval_seconds
        self.compact_stale_ratio = compact_stale_ratio
        self.deleted = 0
        self.compactions = 0
        self.failures: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "TTLReaper":
        self._thread.start()
        return self

    def reap_once(self, now: float | None = None) -> int:
        """One reap + auto-compact cycle over every TTL'd view; the
        loop body of the background thread, callable synchronously
        (tests, manual maintenance).  Returns rows deleted."""
        deleted = 0
        for name, cv in list(self.ctx.views.items()):
            try:
                if cv.ttl is not None:
                    n = self.ctx.reap_ttl(name, now=now)
                    deleted += n
                    # count as soon as the delete committed — the
                    # compact/gc tail below can take a while, and an
                    # observer who already sees the rows gone must
                    # also see them counted
                    self.deleted += n
                # stale bytes accrue from merge churn too, so the
                # compaction check runs for EVERY view; the per-view
                # commit lock serializes it against concurrent merges
                if self.compact_stale_ratio is not None:
                    with cv.commit_lock:
                        if cv.matrel.maybe_compact(
                                self.compact_stale_ratio):
                            self.compactions += 1
                        # deferred unlink of dirs whose unreference
                        # grace expired (quiescent stores commit
                        # nothing, so only this sweep reclaims them)
                        cv.matrel.gc_sweep()
            except Exception as exc:
                # keep reaping other views; next cycle retries this
                # one — but count and log so a persistently failing
                # TTL is visible, not silent
                self.failures[name] = self.failures.get(name, 0) + 1
                logging.getLogger(__name__).warning(
                    "TTL reap/compact failed for %s (%d failures): %s",
                    name, self.failures[name], exc)
        return deleted

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.reap_once()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def attach_rate_stream(ctx: PipelineContext, stream: str,
                       rows_per_second: int = 100,
                       value_exprs: dict[str, str] | None = None
                       ) -> StreamAttachment:
    """Synthetic rate source: maps the rate source's (timestamp, value)
    into the stream's schema via ``value_exprs`` SQL snippets."""
    from pyspark.sql import functions as F

    def source():
        src = (ctx.spark.readStream.format("rate")
               .option("rowsPerSecond", rows_per_second).load())
        if value_exprs:
            src = src.select(*[F.expr(e).alias(n)
                               for n, e in value_exprs.items()])
        return src

    return _start(ctx, stream, source, None, f"rate_{stream}")
