"""Incremental page ingest via Structured Streaming.

stage-1 extraction is a stateless Arrow map, so it lifts to
``readStream`` verbatim; dedup state is bounded with a watermark on
``warc_ts`` (late pages beyond the horizon are treated as new
sightings — content-hash identity makes that harmless, the node
collapses at the next batch merge). Connected components stays a
periodic batch job — there is no streaming CC (SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import extract_pages
from ..schema import PAGES


def stream_pages(spark: SparkSession, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_extract(pages_stream: DataFrame) -> DataFrame:
    """pages stream -> extracted stream (same Arrow pass as batch)."""
    return extract_pages(pages_stream)


def windowed_event_counts(events: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Tumbling-window per-type event counts — batch form. The window
    boundaries are epoch-aligned, so the streaming twin and the DuckDB
    time_bucket oracle agree exactly."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_windowed_event_counts(
    events_stream: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming twin: watermark bounds the state (windows older than
    the horizon finalize and are evicted; late events beyond it drop).
    In append mode only watermark-closed windows emit; a complete-mode
    sink exposes every window for batch-equivalence testing."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_incremental_batch(
    spark: SparkSession, pages_path: str, out_path: str, checkpoint: str
):
    """One incremental micro-batch pass: new pages -> extracted parquet
    with exactly-once sink semantics via checkpointed file sink."""
    stream = streaming_extract(stream_pages(spark, pages_path))
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_path)


# ---------------------------------------------------------------------------
# streaming KG maintenance: fold each micro-batch into standing state
# ---------------------------------------------------------------------------
_DOCS_SCHEMA = "doc_id long, source string, text string"
# compact per-version tables: canon and exporters are dimension-sized,
# edges is the per-(subj, obj) aggregate — all cheap to rewrite per
# batch. Mention rows are CORPUS-sized and live as per-batch deltas
# under state_dir/mentions/d{batch_id} instead: standing mentions are
# never rewritten (an O(corpus) write per micro-batch otherwise), only
# appended — the Iceberg-append analogue.
_COMPACT_TABLES = ("canon", "exporters", "edges")


def _state_version_dirs(state_dir: str):
    import os
    import re

    if not os.path.isdir(state_dir):
        return {}
    out = {}
    for name in os.listdir(state_dir):
        m = re.fullmatch(r"v(\d+)", name)
        if m and os.path.exists(os.path.join(state_dir, name, "_OK")):
            out[int(m.group(1))] = os.path.join(state_dir, name)
    return out


def _compact_frontier(state_dir: str, version: int) -> int:
    """Highest batch id covered by a committed mention compaction no
    newer than ``version`` (-1 when none): ``mentions/c{u}`` holds the
    union of deltas d0..d{u}, marker-committed like state versions."""
    import os
    import re

    mdir = os.path.join(state_dir, "mentions")
    if not os.path.isdir(mdir):
        return -1
    upto = -1
    for name in os.listdir(mdir):
        m = re.fullmatch(r"c(\d+)", name)
        if (
            m
            and int(m.group(1)) <= version
            and os.path.exists(os.path.join(mdir, name, "_OK"))
        ):
            upto = max(upto, int(m.group(1)))
    return upto


def _mention_paths(state_dir: str, version: int) -> list:
    """Parquet dirs whose union is the standing mentions of batches
    0..version: the newest committed compaction plus the deltas past
    it. Deltas AT OR BELOW the compaction frontier are ignored even if
    still on disk (an interrupted post-compaction cleanup leaves them
    behind; reading both would double-count)."""
    import os

    lo = _compact_frontier(state_dir, version)
    paths = [os.path.join(state_dir, "mentions", f"c{lo}")] if lo >= 0 else []
    paths += [
        os.path.join(state_dir, "mentions", f"d{b}")
        for b in range(lo + 1, version + 1)
        if os.path.isdir(os.path.join(state_dir, "mentions", f"d{b}"))
    ]
    return paths


def _read_state(spark: SparkSession, state_dir: str, version: int):
    """Load version ``version``: compact tables from its v-dir, standing
    mentions as the UNION of the newest committed mention compaction and
    the per-batch deltas past it (deltas are append-only and exempt from
    retention, so they are all present even when older compact versions
    were cleaned up)."""
    import os

    from ..operators.incremental import KgState

    vdir = os.path.join(state_dir, f"v{version}")
    return KgState(
        mentions=spark.read.parquet(*_mention_paths(state_dir, version)),
        **{t: spark.read.parquet(os.path.join(vdir, t)) for t in _COMPACT_TABLES},
    )


def _write_state(state, state_dir: str, batch_id: int) -> str:
    """Write version ``batch_id``'s data WITHOUT its marker (the caller
    marks after the metrics delta lands, so a marker always implies a
    complete version INCLUDING its metrics row): a replayed batch
    (driver died between the fold and the sink checkpoint advancing)
    rewrites its own versioned directory and mention delta
    deterministically; readers only trust marked versions, and a
    partially-written delta is always overwritten by its own replay
    before the marker can appear."""
    import os

    vdir = os.path.join(state_dir, f"v{batch_id}")
    for t in _COMPACT_TABLES:
        getattr(state, t).write.mode("overwrite").parquet(os.path.join(vdir, t))
    state.mentions_delta.write.mode("overwrite").parquet(
        os.path.join(state_dir, "mentions", f"d{batch_id}")
    )
    return vdir


def _mark_ok(dirpath: str) -> None:
    import os

    with open(os.path.join(dirpath, "_OK"), "w", encoding="utf-8") as f:
        f.write("ok")


def _compact_mentions(spark: SparkSession, state_dir: str, batch_id: int, keep: int) -> None:
    """Bound the mention-store read fan-in: fold each micro-batch's
    delta dir forever and ``_read_state`` unions one directory per batch
    — unbounded for a long-running stream. When more than ``keep``
    deltas have accumulated past the compaction frontier, rewrite all
    but the newest ``keep`` (plus the prior compaction) into ONE
    parquet dir ``mentions/c{upto}``, marker-committed like state
    versions, then drop what it covers. Crash-safe at every step: an
    unmarked c-dir is ignored (and overwritten by the next attempt);
    after the marker, leftover covered dirs are ignored by the
    frontier-aware read path, so an interrupted cleanup never
    double-counts. Mention rows are never lost — compaction moves
    bytes, the append-only content is invariant (asserted in tests as
    fold == full rebuild across compactions)."""
    import os
    import shutil

    lo = _compact_frontier(state_dir, batch_id)
    live = [b for b in range(lo + 1, batch_id + 1)
            if os.path.isdir(os.path.join(state_dir, "mentions", f"d{b}"))]
    if len(live) <= keep:
        return
    upto = batch_id - keep
    src = _mention_paths(state_dir, upto)
    cdir = os.path.join(state_dir, "mentions", f"c{upto}")
    spark.read.parquet(*src).write.mode("overwrite").parquet(cdir)
    _mark_ok(cdir)
    for p in src:  # now covered by c{upto}: marker first, then data
        ok = os.path.join(p, "_OK")
        if os.path.exists(ok):
            os.remove(ok)
        shutil.rmtree(p, ignore_errors=True)


def stream_kg_fold(
    spark: SparkSession,
    docs_path: str,
    state_dir: str,
    checkpoint: str,
    max_files_per_trigger: int = 4,
    retain: int = 2,
    compact_keep: int = 8,
):
    """Checkpoint-resumable streaming KG maintenance: every micro-batch
    of documents-shaped rows folds into the standing KG state via
    ``operators.incremental.kg_state_fold`` (first batch builds it), so
    the graph stays current without ever recomputing old batches — the
    streaming twin of the kg_incremental query.

    Exactly-once state: the Structured Streaming checkpoint replays an
    interrupted batch with the SAME batch_id; the fold writes its state
    snapshot to ``state_dir/v{batch_id}`` and marks it atomically, so a
    replay either finds the marker (fully committed — no-op) or
    overwrites its own partial output. State snapshots are parquet, so
    each fold's lineage is one batch deep (the plans/pipeline.py
    stage-snapshot pattern; an Iceberg deployment swaps these for
    table snapshots + MERGE INTO).

    Batches must be append-only with increasing doc_ids across batches
    (the operators/incremental.py precondition). Runs availableNow to
    completion; returns the latest committed KgState read back from
    disk (None when no batch has ever committed).

    Store layout is write-cost-aware: compact tables (canon, exporters,
    edges — dimension/aggregate-sized) rewrite per version, while the
    corpus-sized mention rows append as per-batch deltas under
    ``state_dir/mentions/d{batch_id}`` and are NEVER rewritten — a fold
    costs O(delta) write I/O, not O(corpus) (the Iceberg-append
    analogue; a bucketed-by-token layout would additionally let the
    broadcast probe prune its read).

    ``retain`` bounds the compact-version directories: after each
    committed fold, only the newest ``retain`` versions survive (a
    long-running stream otherwise accumulates one compact-state copy
    per micro-batch). Mention deltas are exempt — they are the data,
    not a copy. Folds only ever read the LATEST committed version, so
    retention never breaks resume; markers are removed before data so
    an interrupted cleanup leaves an ignored (unmarked) directory,
    never a half-trusted one.

    ``compact_keep`` bounds the mention-DELTA directories the same way:
    once more than that many deltas accumulate past the last
    compaction, everything older than the newest ``compact_keep`` is
    rewritten into one marker-committed ``mentions/c{upto}`` dir and
    the covered dirs dropped, so a long-running stream's read fan-in
    stays at ``compact_keep + 1`` directories instead of one per
    micro-batch ever folded (0 disables)."""
    from ..operators.incremental import kg_state_build, kg_state_fold

    import os
    import shutil

    def fold_batch(batch_df, batch_id: int) -> None:
        import time

        vdir = os.path.join(state_dir, f"v{batch_id}")
        if os.path.exists(os.path.join(vdir, "_OK")):
            return  # replay of a committed fold
        t0 = time.time()
        s = batch_df.sparkSession
        committed = _state_version_dirs(state_dir)
        if committed and max(committed) >= batch_id:
            # a replay from a FRESH checkpoint restarts batch ids below
            # the committed frontier (retention may have pruned this
            # id's marker): the data is already folded — recomputing
            # would corrupt the metrics history (and pointlessly
            # rebuild state). The checkpoint is the progress record;
            # new files over a lost checkpoint need a fresh state_dir.
            return
        prior = [v for v in committed if v < batch_id]
        if prior:
            prev = _read_state(s, state_dir, max(prior))
            _write_state(kg_state_fold(prev, batch_df), state_dir, batch_id)
        else:
            _write_state(kg_state_build(batch_df), state_dir, batch_id)
        # per-batch metrics row (the pipeline-lineage analogue for the
        # fold store): its own idempotent delta dir, so a replayed batch
        # overwrites rather than duplicates. Counts are batch-sized
        # (the input) or parquet-stats-sized (the written aggregate).
        # Written BEFORE the version marker: a crash in between replays
        # the whole batch (marker absent), so a marked version always
        # has its metrics row — the reverse order would early-return on
        # the marker and lose the row forever.
        n_docs = batch_df.count()
        n_edges = s.read.parquet(os.path.join(vdir, "edges")).count()
        s.createDataFrame(
            [(batch_id, n_docs, n_edges, int((time.time() - t0) * 1000))],
            "batch_id long, n_docs long, n_edges long, wall_ms long",
        ).write.mode("overwrite").parquet(
            os.path.join(state_dir, "metrics", f"d{batch_id}")
        )
        _mark_ok(vdir)
        if retain and retain > 0:
            done = _state_version_dirs(state_dir)
            for v in sorted(done)[:-retain]:
                os.remove(os.path.join(done[v], "_OK"))
                shutil.rmtree(done[v], ignore_errors=True)
        if compact_keep and compact_keep > 0:
            _compact_mentions(s, state_dir, batch_id, compact_keep)

    stream = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_path)
    )
    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    committed = _state_version_dirs(state_dir)
    if not committed:
        return None
    return _read_state(spark, state_dir, max(committed))


def read_fold_metrics(spark: SparkSession, state_dir: str) -> DataFrame:
    """All per-batch fold metrics rows (batch_id, n_docs, n_edges,
    wall_ms) — the run record of the streaming KG store."""
    import os

    return spark.read.parquet(os.path.join(state_dir, "metrics", "d*"))


def stream_url_seen(
    spark: SparkSession,
    pages_path: str,
    state_dir: str,
    checkpoint: str,
    m_words: int | None = None,
    k: int | None = None,
    max_files_per_trigger: int = 4,
    retain: int = 2,
):
    """Checkpoint-resumable streaming crawl URL-seen filter: every
    micro-batch of pages PROBES its distinct urls against the standing
    Bloom filter (the count of already-seen urls is the re-crawl work a
    frontier would skip), then FOLDS them in via the word-wise bit_or
    semigroup (`operators.sketch.bloom_merge`) — the streaming twin of
    q_url_bloom, and the state-layout twin of `stream_kg_fold` with one
    simplification: the entire state IS compact (<= m_words rows), so
    there is no delta/compaction tier — each version directory holds
    the whole filter, versions are marker-committed with the
    metrics-before-marker discipline, and ``retain`` bounds the copies.
    Replay-idempotent: a replayed batch_id either finds its marker
    (no-op) or deterministically rewrites its own version. Returns the
    latest committed words DataFrame (None when no batch committed)."""
    import os
    import shutil
    import time

    from ..operators.sketch import (
        BLOOM_K,
        BLOOM_M_WORDS,
        bloom_build,
        bloom_merge,
        bloom_probe,
    )

    mw = m_words or BLOOM_M_WORDS
    kk = k or BLOOM_K

    # pin the filter geometry: merging filters built with different
    # (m_words, k) silently breaks the no-false-negative contract, so
    # the state dir records its geometry on first use and every later
    # run must match
    os.makedirs(state_dir, exist_ok=True)
    geo_path = os.path.join(state_dir, "_GEOMETRY")
    geo = f"{mw}:{kk}"
    if os.path.exists(geo_path):
        with open(geo_path, "r", encoding="utf-8") as fh:
            have = fh.read().strip()
        if have != geo:
            raise ValueError(
                f"bloom state at {state_dir} was built with geometry "
                f"{have} (m_words:k); refusing to fold with {geo}"
            )
    else:
        with open(geo_path, "w", encoding="utf-8") as fh:
            fh.write(geo)

    def fold_batch(batch_df, batch_id: int) -> None:
        vdir = os.path.join(state_dir, f"v{batch_id}")
        if os.path.exists(os.path.join(vdir, "_OK")):
            return
        t0 = time.time()
        s = batch_df.sparkSession
        committed = _state_version_dirs(state_dir)
        if committed and max(committed) >= batch_id:
            return  # stale replay below the committed frontier (see kg fold)
        urls = batch_df.select("url").dropDuplicates().localCheckpoint(eager=True)
        n_urls = urls.count()
        prior = [v for v in committed if v < batch_id]
        if prior:
            prev = s.read.parquet(
                os.path.join(state_dir, f"v{max(prior)}", "words")
            )
            n_seen = (
                bloom_probe(prev, urls, m_words=mw, k=kk)
                .where(F.col("bloom_hit") == 1)
                .count()
            )
            words = bloom_merge(prev, bloom_build(urls, m_words=mw, k=kk))
        else:
            n_seen = 0
            words = bloom_build(urls, m_words=mw, k=kk)
        words.write.mode("overwrite").parquet(os.path.join(vdir, "words"))
        n_words = s.read.parquet(os.path.join(vdir, "words")).count()
        # metrics BEFORE the marker (a marked version always has its row)
        s.createDataFrame(
            [(batch_id, n_urls, n_seen, n_words, int((time.time() - t0) * 1000))],
            "batch_id long, n_urls long, n_seen long, n_words long, wall_ms long",
        ).write.mode("overwrite").parquet(
            os.path.join(state_dir, "metrics", f"d{batch_id}")
        )
        _mark_ok(vdir)
        if retain and retain > 0:
            done = _state_version_dirs(state_dir)
            for v in sorted(done)[:-retain]:
                os.remove(os.path.join(done[v], "_OK"))
                shutil.rmtree(done[v], ignore_errors=True)

    q = (
        stream_pages(spark, pages_path, max_files_per_trigger)
        .writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    committed = _state_version_dirs(state_dir)
    if not committed:
        return None
    return spark.read.parquet(
        os.path.join(state_dir, f"v{max(committed)}", "words")
    )


def stream_edge_recency(
    spark: SparkSession,
    pages_path: str,
    state_dir: str,
    checkpoint: str,
    max_files_per_trigger: int = 4,
    retain: int = 2,
):
    """Checkpoint-resumable streaming fold of the temporal edge-recency
    state (the streaming twin of `operators.webgraph.edge_recency`):
    each micro-batch of crawled pages contributes its (src_host, ent)
    mention sightings, and the standing state keeps per edge the
    additive sighting count plus the min/max observation epochs — a
    commutative semigroup, so fold order cannot change the result and
    fold == full rebuild EXACTLY (asserted by the tests against the
    batch operator on the unioned corpus; assumes each page-url arrives
    in one batch, the append-only crawl-snapshot contract the kg fold
    already documents). State layout is the url_seen discipline: each
    version dir holds the WHOLE (edge-dimension-sized) state, versions
    are marker-committed with metrics-before-marker, replays
    short-circuit on the marker, ``retain`` bounds kept versions.
    Returns the latest committed state (None when nothing committed);
    read staleness/active off it with `edge_recency_from_state`."""
    import os
    import shutil
    import time

    from ..operators.webgraph import _URL_HOST, extract_links

    def fold_batch(batch_df, batch_id: int) -> None:
        vdir = os.path.join(state_dir, f"v{batch_id}")
        if os.path.exists(os.path.join(vdir, "_OK")):
            return
        t0 = time.time()
        s = batch_df.sparkSession
        committed = _state_version_dirs(state_dir)
        if committed and max(committed) >= batch_id:
            return
        ts = batch_df.select("url", F.col("warc_ts").cast("long").alias("_ep"))
        cur = (
            extract_links(batch_df)
            .where(F.col("href").startswith("lib://"))
            .select(
                F.regexp_extract("url", _URL_HOST, 1).alias("src_host"),
                F.expr("substring(href, 7)").alias("ent"),
                "url",
            )
            .distinct()
            .join(ts, "url")
            .groupBy("src_host", "ent")
            .agg(
                F.count(F.lit(1)).alias("n_sightings"),
                F.min("_ep").cast("long").alias("first_seen"),
                F.max("_ep").cast("long").alias("last_seen"),
            )
            .localCheckpoint(eager=True)
        )
        n_batch = cur.count()
        prior = [v for v in committed if v < batch_id]
        if prior:
            prev = s.read.parquet(
                os.path.join(state_dir, f"v{max(prior)}", "edges")
            )
            merged = (
                prev.unionByName(cur)
                .groupBy("src_host", "ent")
                .agg(
                    F.sum("n_sightings").cast("long").alias("n_sightings"),
                    F.min("first_seen").cast("long").alias("first_seen"),
                    F.max("last_seen").cast("long").alias("last_seen"),
                )
            )
            n_prev = prev.count()
        else:
            merged = cur
            n_prev = 0
        merged.write.mode("overwrite").parquet(os.path.join(vdir, "edges"))
        n_total = s.read.parquet(os.path.join(vdir, "edges")).count()
        s.createDataFrame(
            [
                (
                    batch_id,
                    n_batch,
                    n_total,
                    n_total - n_prev,
                    int((time.time() - t0) * 1000),
                )
            ],
            "batch_id long, n_batch_edges long, n_total_edges long,"
            " n_new_edges long, wall_ms long",
        ).write.mode("overwrite").parquet(
            os.path.join(state_dir, "metrics", f"d{batch_id}")
        )
        _mark_ok(vdir)
        if retain and retain > 0:
            done = _state_version_dirs(state_dir)
            for v in sorted(done)[:-retain]:
                os.remove(os.path.join(done[v], "_OK"))
                shutil.rmtree(done[v], ignore_errors=True)

    q = (
        stream_pages(spark, pages_path, max_files_per_trigger)
        .writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    committed = _state_version_dirs(state_dir)
    if not committed:
        return None
    return spark.read.parquet(
        os.path.join(state_dir, f"v{max(committed)}", "edges")
    )


def edge_recency_from_state(state: "DataFrame", horizon_s: int = 120):
    """Staleness/active readout over a folded edge-recency state —
    identical column contract to the batch operator, so fold-then-read
    equals rebuild (the corpus max observation is a driver literal off
    the dimension-sized state, the same discipline as the batch op)."""
    if horizon_s < 0:
        raise ValueError(f"horizon_s must be >= 0, got {horizon_s}")
    row = state.agg(F.max("last_seen")).first()
    max_ts = int(row[0]) if row[0] is not None else 0
    return state.select(
        "src_host",
        "ent",
        "n_sightings",
        "first_seen",
        "last_seen",
        (F.lit(max_ts) - F.col("last_seen")).cast("long").alias("staleness_s"),
        ((F.lit(max_ts) - F.col("last_seen")) <= F.lit(horizon_s)).alias(
            "active"
        ),
    )
