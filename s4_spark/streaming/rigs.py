"""Streaming test rigs: batch-equivalence runners (SURVEY.md §2-B
methodology — run the streaming query with availableNow over static data,
compare with batch SQL) and the deterministic replay rig for watermark
semantics (the one category no batch oracle can express).

:func:`replay` is the replayable-source / forced-batch-boundary model:
each phase lands as exactly one parquet file per stream
(:func:`land_file`) and ``processAllAvailable()`` between phases pins
every micro-batch boundary, so watermark progression — on one stream or
on the min of several — is reproducible row for row.
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s4_spark.catalog import normalize_events
from s4_spark.scratch import scratch_root
from s4_spark.session import scoped_conf

_counter = itertools.count()

#: Shuffle/state partition count inside :func:`replay` only. Replay
#: fixtures are bounded by construction (each phase is one landed file
#: of ~dozens of rows), while every state partition costs a RocksDB
#: instance open/commit PER STORE PER MICRO-BATCH — a stream-stream join
#: keeps 4 stores per partition, so the session default (8) paid
#: 8 x 4 x batches RocksDB cycles to join ~30 rows (sf0.01, min-of-2:
#: q165 10.2 s -> 7.8 s at 4). The rig's input is rig-sized at ANY
#: corpus scale, so this is a property of the rig, not the box;
#: production streams (run_to_memory/run_to_parquet consumers) keep
#: session defaults.
REPLAY_SHUFFLE_PARTITIONS = 4


def scratch(tag: str) -> str:
    base = os.path.join(scratch_root(), "stream")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, tag)
    shutil.rmtree(path, ignore_errors=True)
    return path


_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def ntz_as_utc_instant(col: str):
    """TIMESTAMP_NTZ wall-clock -> TIMESTAMP (LTZ) instant, reading the
    wall clock AS UTC via pure integer arithmetic — never routes through
    the session timezone, so it is deterministic on any session.

    Needed because Structured Streaming event time (withWatermark, and
    therefore watermarked windows/joins) requires TIMESTAMP, not NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)."""
    return F.timestamp_micros(
        F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {col})")
    )


def instant_as_utc_ntz(col: str):
    """Inverse of :func:`ntz_as_utc_instant`: TIMESTAMP (LTZ) instant ->
    the UTC wall clock as TIMESTAMP_NTZ, again via integer arithmetic
    (unix_micros is timezone-independent on LTZ). Streaming queries emit
    their window bounds through this so collected values match the DuckDB
    oracle's naive timestamps on ANY session timezone."""
    return F.expr(f"timestampadd(MICROSECOND, unix_micros({col}), {_EPOCH_NTZ})")


def as_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """``df`` with ``col`` usable as streaming event time: a
    TIMESTAMP_NTZ wall clock is pinned to its UTC instant
    (:func:`ntz_as_utc_instant`); a TIMESTAMP column passes through."""
    if df.schema[col].dataType.typeName() == "timestamp_ntz":
        return df.withColumn(col, ntz_as_utc_instant(col))
    return df


def land_file(df: DataFrame, landing: str, fname: str, mtime: int | None = None) -> None:
    """Land ``df`` as exactly one parquet file ``landing/fname`` (one
    file = one micro-batch under ``maxFilesPerTrigger=1``).

    The frame is written coalesced to a sibling stage dir and its single
    part file is renamed into place, so a file source listing
    ``landing`` never sees a partial file. ``mtime`` pins the file's
    modification time — FileStreamSource orders files by it, and
    back-to-back writes can tie on coarse-mtime filesystems."""
    os.makedirs(landing, exist_ok=True)
    stage = f"{landing.rstrip('/')}.stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(
        p for p in os.listdir(stage) if p.startswith("part-") and p.endswith(".parquet")
    )
    dest = os.path.join(landing, fname)
    os.replace(os.path.join(stage, part), dest)
    shutil.rmtree(stage, ignore_errors=True)
    if mtime is not None:
        os.utime(dest, (mtime, mtime))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a streaming DataFrame (file source over a landing dir).

    The stream schema is taken from a batch scan of the landing dir (one
    footer read), NOT hardcoded — the generator has stored events.ts as
    parquet TIMESTAMP(NANOS) and as native NTZ across rounds, and a
    forced schema would break on the next flip. Normalization is then
    delegated to catalog.normalize_events() so the streaming path gets
    the SAME type-adaptive conversion as the batch path; the normalized
    NTZ wall clock is pinned to a UTC instant because streaming event
    time requires TIMESTAMP (LTZ)."""
    from s4_spark.catalog import read_parquet_adaptive
    from s4_spark.queries.scans import events_landing_dir

    landing = events_landing_dir(sf_dir)
    # adaptive probe: flips the nanos legacy conf only if the footer
    # demands it, so nothing leaks on the (current) NTZ-typed data
    scanned_schema = read_parquet_adaptive(spark, landing).schema
    raw = (
        spark.readStream.schema(scanned_schema)
        .format("parquet")
        .load(landing)
    )
    return as_event_time(normalize_events(raw))


def run_to_memory(
    df: DataFrame, mode: str = "complete", tag: str = "q"
) -> DataFrame:
    """Run a streaming DataFrame to a memory sink with availableNow and
    return the sink contents as a batch DataFrame."""
    name = f"s4_mem_{tag}_{next(_counter)}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch(f"ckpt_{name}"))
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


COMMIT_MARKER = "_S4_COMMIT"


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path constructor) for ``path``'s scheme, resolved
    through the session's Hadoop configuration — the local filesystem
    here, s3a/hdfs/abfs on a cluster with the SAME calling code. This is
    the abstraction the commit protocol below routes through so the
    exactly-once story is not POSIX-only (ADVICE r11 / VERDICT r12)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def idempotent_batch_sink(out: str):
    """foreachBatch sink closure that lands each micro-batch under a
    batchId-keyed directory, exactly once.

    A plain ``mode("append")`` foreachBatch sink is NOT idempotent: a
    batch retried after a partial parquet append duplicates rows, and an
    ``isEmpty()`` probe before the write executes the batch plan twice.

    Commit protocol (Hadoop FileSystem API, round 13 — replaces the
    POSIX-only ``os.replace`` directory rename of r10-r12): each batch
    writes its parquet files directly into ``b{batchId}`` and then PUTs
    a zero-byte ``b{batchId}/_S4_COMMIT`` marker through the
    ``FileSystem`` handle for ``out``'s scheme. Visibility is gated on
    the marker, never on the data files, so the protocol holds on
    object stores where directory renames are non-atomic copy+delete
    loops but a single-object create IS atomic (the reference's sink is
    S3, /root/reference/lake/lake.go:65-90). A retry of a committed
    batch is a no-op (marker exists); a retry after a crash overwrites
    the partial dir and re-creates the marker; a query stopped between
    the parquet job commit and the marker PUT leaves an INVISIBLE
    uncommitted dir that the next attempt overwrites. The underscore
    prefix keeps the marker hidden from Spark's file-index listing, so
    it never collides with the parquet read. Empty batches land an
    empty-but-valid parquet dir; the pinned read-back schema absorbs
    them."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        fs, Path = hadoop_fs(batch_df.sparkSession, out)
        bdir = f"{out}/b{batch_id}"
        marker = Path(f"{bdir}/{COMMIT_MARKER}")
        if fs.exists(marker):
            return  # batch already fully committed by a previous attempt
        batch_df.write.mode("overwrite").parquet(bdir)
        fs.create(marker, True).close()

    return sink


def read_batched_parquet(spark: SparkSession, out: str, schema) -> DataFrame:
    """Read back everything an :func:`idempotent_batch_sink` landed.

    Only COMMITTED batch dirs (``b{N}`` carrying the zero-byte
    ``_S4_COMMIT`` marker) are read: a query stopped between the
    parquet job commit and the marker PUT — reachable via q252's
    deliberate mid-cleanup ``q.stop()`` — leaves a marker-less dir, and
    surfacing those rows is exactly the duplication the protocol
    exists to prevent (ADVICE r11). Listing goes through the Hadoop
    FileSystem API like the sink, so sink and read-back always agree
    on one namespace whatever the scheme. The explicit schema keeps a
    zero-emission run an empty frame rather than
    UNABLE_TO_INFER_SCHEMA."""
    fs, Path = hadoop_fs(spark, out)
    root = Path(out)
    committed = []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if (
                st.isDirectory()
                and name.startswith("b")
                and fs.exists(Path(f"{st.getPath()}/{COMMIT_MARKER}"))
            ):
                committed.append(str(st.getPath()))
    if not committed:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(*sorted(committed))
    )


def run_to_parquet(
    df: DataFrame, mode: str = "update", tag: str = "q"
) -> DataFrame:
    """Run a streaming DataFrame to completion with availableNow and
    return the accumulated emissions, like :func:`run_to_memory`, but
    through a parquet foreachBatch sink instead of the memory sink.

    The memory sink serializes EVERY emitted row back to the driver —
    fine for the aggregate-shaped rigs, but a rig whose output is
    proportional to its input dies at scale on the driver, not in the
    plan (the round-10 ×1000 probe hit spark.driver.maxResultSize on
    q241's ~30M session rows after the heap fix). This sink keeps
    emissions executor-side, which is the only sink shape that survives
    output ∝ input; update-mode emission sets are identical between the
    two sinks (the memory sink also appends each batch's rows).

    foreachBatch rather than the parquet file sink because the file
    sink is append-only and the stateful rigs emit in update mode. The
    read-back pins the schema explicitly so a zero-emission run returns
    an empty frame instead of UNABLE_TO_INFER_SCHEMA (the q252 lesson).
    """
    name = f"s4_pq_{tag}_{next(_counter)}"
    out = scratch(f"sink_{name}")
    os.makedirs(out, exist_ok=True)
    schema = df.schema

    q = (
        df.writeStream.foreachBatch(idempotent_batch_sink(out))
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch(f"ckpt_{name}"))
        .start()
    )
    q.awaitTermination()
    return read_batched_parquet(df.sparkSession, out, schema)


def replay(
    spark: SparkSession,
    phases: list[tuple[DataFrame, ...]],
    build_query,
    tag: str = "replay",
) -> DataFrame:
    """Deterministic watermark replay over one or more file-source
    streams. ``phases`` lists, per phase, one frame per stream;
    ``build_query(*streams)`` builds the append-mode query over them.

    Phase 1 lands and is processed to completion (the watermark
    advances to max(ts) - delay at the NEXT batch); each later phase
    (typically carrying late rows) lands and is processed the same way;
    a final empty tick applies the watermark computed from the last
    phase so its non-late windows close. Append output then shows
    exactly which windows closed and which late rows were dropped —
    deterministic because ``processAllAvailable()`` forces every batch
    boundary, on every stream (outer-join null emission and union
    windows depend on the MIN of the streams' watermarks). The query is
    stopped on every exit path."""
    landings = [scratch(f"{tag}_s{i}") for i in range(len(phases[0]))]
    name = f"s4_mem_{tag}_{next(_counter)}"
    ticks = [*phases, tuple(df.limit(0) for df in phases[-1])]

    def land(i: int) -> None:
        for landing, df in zip(landings, ticks[i]):
            land_file(df, landing, f"p{i + 1}.parquet")

    land(0)
    with scoped_conf(
        spark, {"spark.sql.shuffle.partitions": str(REPLAY_SHUFFLE_PARTITIONS)}
    ):
        streams = [
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            for df, landing in zip(ticks[0], landings)
        ]
        q = (
            build_query(*streams)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", scratch(f"ckpt_{name}"))
            .start()
        )
        try:
            q.processAllAvailable()
            for i in range(1, len(ticks)):
                land(i)
                q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)
