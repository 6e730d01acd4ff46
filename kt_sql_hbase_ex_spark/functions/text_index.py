"""Persisted, incrementally-maintained positional postings index.

This is the durable half of the reference's Lucene subsystem: the
reference stored Lucene index *files* in HBase rows so the index
survived across queries (``hbase/index/lucene/HBaseDirectory.kt:24-165``,
``HBaseIndexInput.kt:20-73``), while t05/t06/t11/t12 originally
re-derived postings from ``documents`` on every call. Here the index is
a Spark-native layout written ONCE and read by the search queries with
partition pruning:

* ``postings/`` — positional postings ``(term, doc_id, pos, gen)``,
  parquet **partitioned by ``term_pfx``** (term's first character —
  the opt03 layout pattern). A term lookup reads only its prefix
  partitions: the directory pruning IS the index seek, exactly the
  two-partition read t11's docstring promised. At 100 TB the prefix
  widens (2–3 chars) so each partition stays file-system-friendly;
  hot-prefix skew is bounded by Zipf on the first character and by the
  parquet writer splitting large partitions into many files.
* ``doclen/`` — ``(doc_id, dl, gen)`` document lengths (BM25's length
  normalization), a slim table.
* ``stats/`` — per-build/per-batch partial rows ``(pn_docs, pdl_sum)``
  — the st07 log+compaction convention: readers compact the partials
  with a one-row aggregate, so appends never rewrite published data.
  Update/delete batches append NEGATIVE partials, so the sum stays the
  effective corpus size.
* ``tombstones/`` — ``(doc_id, gen)`` document tombstones: a row means
  "every postings/doclen row of ``doc_id`` with a LOWER ``gen`` is
  superseded". This is the delete-then-append maintenance path the
  reference's directory layer owned (``HBaseDirectory.kt:83-123``
  deleteFile/rename — Lucene replaces a document by writing a delete
  marker then re-adding it); readers mask superseded rows with one
  broadcast anti-filter, compaction folds them in physically.

Every batch carries a **generation number** (``gen``): the initial
build is gen 0, each maintenance batch takes the next integer (tracked
by marker files under ``gens/`` — driver-side listing, no data read).
An updated document tombstones its old rows at the batch's gen and
re-appends its new rows AT that same gen, so the mask
``row.gen >= max(tombstone.gen)`` keeps exactly the latest version.

Incremental maintenance follows the st07 foreachBatch-upsert pattern:
:func:`upsert_index_batch` appends one batch of documents' postings /
doclens / stats partials into the layout, tombstoning prior versions of
the batch's doc_ids unless the caller declares the feed append-only
(``assume_new=True`` — the corpus-growth fast path with zero tombstone
overhead). ``t13`` proves pure growth converges to the batch build;
``t15`` proves update+delete does.

Layer publishing discipline: the mutable layers (``postings``,
``doclen``, ``stats``, ``tombstones``) are resolved through a pointer
file ``layers.json`` — appends land in the currently-pointed dirs
(pointer untouched), while :func:`compact_text_index` builds fresh
uniquely-named dirs and repoints ALL four layers with ONE atomic
pointer publish (:func:`storage.write_pointer`, the version-dir +
meta-pointer pattern every store shares). Superseded dirs are deleted
by the NEXT compaction's deferred GC, so a reader holding a resolved
path gets a full cycle to finish. Each reader resolves the pointer
once per call and takes every layer it needs from that snapshot, so a
mid-compaction read never mixes folded postings with cleared
tombstones. Writers (maintenance and compaction) are serialized
MECHANICALLY: every writer holds the store's ``writer.lock``
(:func:`storage.writer_lock`) for its whole run and each applied
generation is itself an exclusive claim (``_mark_gen``,
:func:`storage.claim`) — the losing side of a race raises
:class:`IndexWriterConflict` instead of interleaving. The reference
used a Redis write lock for exactly this (``RedisLockFactory.kt:16-41``).

Provisioning discipline (fixture-only): the index is fingerprinted by
the documents file's identity and built under a staging dir published
by one atomic rename (:func:`storage.build_once`) — concurrent test
shards never see a half-built index. In production the build is
a one-time backfill job and batches land live; compaction runs
per-prefix on a size trigger instead of corpus-wide.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kt_sql_hbase_ex_spark import storage
from kt_sql_hbase_ex_spark.registry import query
from kt_sql_hbase_ex_spark.sources.catalog import fan_out, load_table, table_path

#: bump to invalidate previously-built index layouts on disk
_LAYOUT_VERSION = 3

#: the four pointer-resolved layers (see module docstring)
_LAYERS = ("postings", "doclen", "stats", "tombstones")


def term_prefix(term_col):
    """Partition key of a term: its first character (widened at real
    scale). Empty-string tokens (doubled separators) map to ``_`` so the
    partition value is never the Hive default-partition sentinel."""
    c = F.col(term_col) if isinstance(term_col, str) else term_col
    return F.coalesce(F.nullif(F.substring(c, 1, 1), F.lit("")), F.lit("_"))


def index_root(sf_dir: str, variant: str) -> str:
    """Fingerprinted build-once location for a store derived from one
    fixture's ``documents``: file identity + layout version + variant
    (full corpus vs t13's split vs t15's mutated corpus; the dedup and
    similarity stores pass their own variants)."""
    return storage.fingerprint_root(
        "text_index",
        table_path(sf_dir, "documents"),
        f"v{_LAYOUT_VERSION}|{variant}",
    )


# --- layer pointer (version-dir + atomic meta-pointer publishes) -------


def _pointer_path(root: str) -> str:
    return os.path.join(root, "layers.json")


def _read_pointer(root: str) -> dict:
    """One pointer snapshot: {layer: dir-name} plus the deferred-GC
    list. A root with no pointer file uses the plain layer names (the
    pre-compaction layout appends create)."""
    return storage.read_pointer(_pointer_path(root), {"gc": []})


def _resolve(root: str, ptr: dict, layer: str) -> str:
    return os.path.join(root, ptr.get(layer, layer))


def layer_path(root: str, layer: str) -> str:
    """Current on-disk dir of one index layer (pointer-resolved) —
    the single resolution point tests and tools should use."""
    return _resolve(root, _read_pointer(root), layer)


#: declared layer schemas — the empty-layer fallback below must agree
#: with what the writers produce (partition col last on postings reads)
_LAYER_SCHEMAS = {
    "postings": "term string, doc_id bigint, pos int, gen int, term_pfx string",
    "doclen": "doc_id bigint, dl bigint, gen int",
    "stats": "pn_docs bigint, pdl_sum bigint",
}


def _read_layer(spark: SparkSession, path: str, layer: str) -> DataFrame:
    """Read one layer dir, tolerating the EMPTY case: a partitioned
    parquet write of zero rows (an all-deletes maintenance batch, or a
    compaction of a fully-deleted corpus) creates a dir with no data
    files, which ``spark.read.parquet`` rejects as schemaless — so a
    file-less layer reads as an empty DataFrame with the declared
    schema instead of erroring."""
    import glob

    if not glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        return spark.createDataFrame([], _LAYER_SCHEMAS[layer])
    return spark.read.parquet(path)


# --- writer mutual exclusion + generation tracking ---------------------


#: a second writer (maintenance upsert or compaction) tried to enter the
#: index while another holds ``writer.lock``, or a generation was
#: already applied. Retry after the holder finishes; if it crashed,
#: clear the stale lock with :func:`break_writer_lock`.
IndexWriterConflict = storage.LockConflict

#: the index writer lock (:func:`storage.writer_lock`): held for the
#: whole upsert or compaction, so a concurrent upsert-vs-upsert or
#: upsert-vs-compact loses LOUDLY instead of interleaving appends with a
#: pointer swap — the reference's Redis write lock
#: (``RedisLockFactory.kt:16-41``). Never auto-stolen on age.
_writer_lock = storage.writer_lock

#: clear a crashed writer's lock; refused while its holder is alive
break_writer_lock = storage.break_writer_lock


def reject_flat_relation(live_dir: str) -> None:
    """One invariant, one implementation: a live store relation must
    contain only ``k=v`` partition directories. Flat parquet files are
    the pre-bucketing layout — a per-unit fold of such a relation would
    publish an empty generation (and the next deferred GC would destroy
    the only copy), and a bucketed-key join would fail mid-query with a
    missing-column error. Both the probes and the compaction engine
    call this so the failure is the same loud, actionable message."""
    import glob

    if glob.glob(os.path.join(live_dir, "*.parquet")):
        raise ValueError(
            f"{live_dir} holds un-bucketed parquet files (the "
            "pre-bucketing layout) — rebuild the store"
        )


def compact_partitioned_store(
    spark,
    root: str,
    layout_reader,
    relations: list,
    target_files: int = 1,
    only_units_over: int | None = None,
) -> dict:
    """The shared generation-fold engine behind
    :func:`~kt_sql_hbase_ex_spark.functions.dedup.compact_band_store`
    and
    :func:`~kt_sql_hbase_ex_spark.functions.similarity.compact_ivf_store`
    — one implementation of the whole discipline (writer lock, orphan
    and torn-staging sweep, per-partition-dir fold-or-hardlink, atomic
    ``layout.json`` publish, deferred GC) so a fix to any step lands in
    every store at once.

    ``layout_reader`` is a zero-arg callable returning the store's
    current generation pointer (``gen``, ``prev``, one directory name
    per relation key) — it is invoked UNDER the writer lock, so a
    compaction that queued behind another writer folds the layout that
    writer published, never a stale pre-lock snapshot (a stale snapshot
    would make the orphan sweep destroy the live generation);
    ``relations`` is a list of ``(layout_key, dir_prefix)`` pairs — the
    folded relation ``layout_key`` is republished as
    ``{dir_prefix}_g{gen}.{uuid}``. Each ``k=v`` partition directory is
    an independent rewrite unit: folded to ``target_files`` files by
    its own job when its file count exceeds ``only_units_over``,
    carried into the new generation by hardlink (same inode, no data
    movement) when at or under it; ``only_units_over=None`` folds every
    unit. Flat (un-partitioned) parquet files in a live relation are
    REJECTED loudly — a silent fold would publish an empty generation
    and the next deferred GC would destroy the only copy.

    Crash safety: never-published orphan generation dirs (referenced by
    neither the live layout nor its ``prev`` retention list) and torn
    publish staging from a crashed run are swept under the lock before
    the fold (:func:`storage.sweep_orphans`); fresh uuid dir tags keep a
    retry from colliding with its own orphan. Returns
    ``{"gen", "files_before", "files_after"}``."""
    import glob

    count = lambda d: len(
        glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    )
    with _writer_lock(root):
        layout = layout_reader()
        storage.sweep_orphans(
            root,
            [f"{prefix}_g*" for _, prefix in relations],
            {layout[k] for k, _ in relations} | set(layout.get("prev", [])),
        )
        n_before = sum(count(os.path.join(root, layout[k])) for k, _ in relations)
        gen = layout["gen"] + 1
        tag = uuid.uuid4().hex[:8]
        new_layout = dict(layout)
        new_layout["gen"] = gen
        new_layout["prev"] = [layout[k] for k, _ in relations]
        for k, prefix in relations:
            live_dir = os.path.join(root, layout[k])
            reject_flat_relation(live_dir)
            new_rel = f"{prefix}_g{gen}.{tag}"
            new_layout[k] = new_rel
            os.makedirs(os.path.join(root, new_rel), exist_ok=True)
            for udir in sorted(glob.glob(os.path.join(live_dir, "*=*"))):
                files = glob.glob(os.path.join(udir, "*.parquet"))
                tgt = os.path.join(root, new_rel, os.path.basename(udir))
                if (
                    only_units_over is not None
                    and len(files) <= only_units_over
                ):
                    os.makedirs(tgt, exist_ok=True)
                    for fpath in files:  # cold unit: carry by hardlink
                        os.link(fpath, os.path.join(tgt, os.path.basename(fpath)))
                else:
                    spark.read.parquet(udir).coalesce(target_files).write.parquet(
                        tgt
                    )
        storage.write_pointer(storage.layout_path(root), new_layout)
        # deferred GC: the generation superseded by the PREVIOUS
        # compaction is now two swaps old — no reader can still hold it
        storage.drop_dirs(root, layout.get("prev", []))
        n_after = sum(
            count(os.path.join(root, new_layout[k])) for k, _ in relations
        )
    return {"gen": gen, "files_before": n_before, "files_after": n_after}


def _mark_gen(root: str, gen: int) -> None:
    """Record a generation as applied — an exclusive claim, so a
    double-apply of the same generation (two writers that somehow both
    computed it, e.g. after a lock was broken under a live writer)
    fails loudly instead of silently double-counting a batch."""
    d = os.path.join(root, "gens")
    os.makedirs(d, exist_ok=True)
    if not storage.claim(os.path.join(d, f"{gen:08d}")):
        raise IndexWriterConflict(
            f"text index {root}: generation {gen} already applied — "
            "a concurrent writer raced this batch"
        ) from None


def _next_gen(root: str) -> int:
    """Next batch generation: max applied gen + 1 (driver-side listing
    of marker files — no data read). Callers hold the writer lock, so
    the read-compute-claim sequence is single-writer; the exclusive
    claim in :func:`_mark_gen` backstops it."""
    d = os.path.join(root, "gens")
    if not os.path.isdir(d):
        return 0
    ns = [int(x) for x in os.listdir(d) if x.isdigit()]
    return max(ns) + 1 if ns else 0


# --- writers -----------------------------------------------------------


def _postings_of(docs: DataFrame, gen: int) -> DataFrame:
    """(term_pfx, term, doc_id, pos, gen) positional postings — 0-based
    positions, one row per token occurrence (what phrase/NEAR need;
    frequency-only consumers aggregate). NULL text fails the build
    loudly: the stats layer's n_docs contract is "every indexed
    document counted exactly once", and a silently-skipped NULL doc
    would diverge from any COUNT(*)-based oracle (coalesce upstream or
    drop the row explicitly before indexing)."""
    text = F.when(
        F.col("text").isNull(),
        F.raise_error(
            F.concat(
                F.lit("text_index: NULL text at index build for doc_id="),
                F.col("doc_id").cast("string"),
            )
        ),
    ).otherwise(F.col("text"))
    pos = docs.select("doc_id", F.posexplode(F.split(text, " ")).alias("pos", "term"))
    return pos.select(
        term_prefix("term").alias("term_pfx"),
        "term",
        "doc_id",
        "pos",
        F.lit(gen).cast("int").alias("gen"),
    )


def _write_index_parts(docs: DataFrame, root: str, gen: int = 0) -> None:
    """Write one batch of documents into an index layout at ``root`` —
    used by both the initial build (into staging) and incremental
    maintenance (append into the live layout). Postings append as new
    files inside their term_pfx partitions; doclen rows append;
    stats land as a partial row compacted at read (st07's
    log+compaction)."""
    ptr = _read_pointer(root)
    postings = _postings_of(docs, gen)
    # co-locate each prefix before the partitioned write: one file per
    # prefix partition per batch instead of (writer-partitions × prefix)
    # small files — file count is what query-time listing and task
    # scheduling pay for. At real scale the same shuffle keys the write
    # to target file sizes (maxRecordsPerFile), not one-file-per-prefix.
    postings.repartition("term_pfx").write.mode("append").partitionBy(
        "term_pfx"
    ).parquet(_resolve(root, ptr, "postings"))
    doclen = postings.groupBy("doc_id", "gen").agg(F.count("*").alias("dl"))
    doclen.select("doc_id", "dl", "gen").write.mode("append").parquet(
        _resolve(root, ptr, "doclen")
    )
    stats = doclen.agg(F.count("*").alias("pn_docs"), F.sum("dl").alias("pdl_sum"))
    stats.write.mode("append").parquet(_resolve(root, ptr, "stats"))
    _mark_gen(root, gen)


def upsert_index_batch(
    batch_df: DataFrame,
    root: str,
    deletes: DataFrame | None = None,
    assume_new: bool = False,
) -> None:
    """The foreachBatch maintenance hook: apply one microbatch of
    document changes to a published index — the delete-then-append
    document replacement the reference's Lucene directory layer served
    (``HBaseDirectory.kt:83-123``). Wire as
    ``stream.writeStream.foreachBatch(lambda df, _id:
    upsert_index_batch(df, root))``.

    * ``batch_df`` — new or CHANGED documents (full rows). Unless
      ``assume_new``, each doc_id's prior rows are tombstoned at this
      batch's generation and the new rows land at that same
      generation, so readers see exactly the latest version.
    * ``deletes`` — a ``doc_id`` DataFrame of documents REMOVED from
      the corpus: tombstoned with nothing re-appended. A doc_id present
      in BOTH ``batch_df`` and ``deletes`` is treated as deleted (the
      delete wins — the batch rows are anti-joined out before append).
    * ``assume_new=True`` — declares the feed append-only (pure corpus
      growth): skips the tombstone write and the superseded-stats
      lookup entirely, the zero-overhead ingest fast path (t13's
      case).

    Stats stay exact under updates/deletes: before appending, the
    batch writes a NEGATIVE stats partial for the doc_ids it
    supersedes — the batch's doc_id set semi-filters the doclen layer
    BEFORE the tombstone mask joins, so only the touched docs' rows
    flow through any join (at 100 TB doclen is doc-id-partitioned and
    the semi-join prunes the scan itself — the multi-get shape). A
    first batch into an empty layout writes NO tombstones at all
    (nothing can be superseded), preserving the pure-append fast path
    where readers skip the mask join entirely. Re-delivered batches
    are not double-appended under the streaming checkpoint's batch
    tracking (the st07/st10 contract)."""
    spark = batch_df.sparkSession
    if deletes is not None:
        # same-batch update+delete of one doc_id: the DELETE wins (the
        # document is gone) — without this anti-join the re-appended
        # rows would land at the tombstone's own generation and survive
        # the gen >= tgen mask, silently undoing the delete
        deletes = deletes.select("doc_id").distinct()
        batch_df = batch_df.join(deletes, "doc_id", "left_anti")
    with _writer_lock(root):
        gen = _next_gen(root)
        ptr = _read_pointer(root)
        has_prior = os.path.isdir(_resolve(root, ptr, "doclen"))
        superseded = None
        if has_prior:
            if not assume_new:
                superseded = batch_df.select("doc_id")
            if deletes is not None:
                superseded = (
                    deletes if superseded is None else superseded.unionByName(deletes)
                )
        if superseded is not None:
            superseded = superseded.distinct()
            # negative partial for the rows this batch supersedes: filter
            # to the batch's doc_ids FIRST, then mask — batch-∝ work
            touched = _read_layer(spark, _resolve(root, ptr, "doclen"), "doclen").join(
                superseded, "doc_id", "left_semi"
            )
            old = _mask(touched, _read_tombstones(spark, root, ptr))
            neg = old.agg(
                (-F.count("*")).alias("pn_docs"),
                (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("pdl_sum"),
            )
            neg.write.mode("append").parquet(_resolve(root, ptr, "stats"))
            superseded.withColumn("gen", F.lit(gen).cast("int")).write.mode(
                "append"
            ).parquet(_resolve(root, ptr, "tombstones"))
        _write_index_parts(batch_df, root, gen)


# --- readers -----------------------------------------------------------


def _read_tombstones(spark: SparkSession, root: str, ptr: dict) -> DataFrame | None:
    """Per-doc max tombstone generation, or None when the index has no
    tombstones (pure-append indexes skip the mask join entirely, so
    t11/t12's pinned plans are unchanged). Sized ∝ docs superseded
    since the last compaction — broadcastable far past fixture scale;
    a deployment with massive churn swaps the broadcast for a shuffle
    join on doc_id, same semantics."""
    import glob

    d = _resolve(root, ptr, "tombstones")
    if not glob.glob(os.path.join(d, "*.parquet")):
        return None
    return spark.read.parquet(d).groupBy("doc_id").agg(F.max("gen").alias("tgen"))


def _mask(df: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """Drop superseded rows: keep a row iff its doc has no tombstone or
    the row's gen is >= the doc's newest tombstone gen (an update
    re-appends at the tombstone's own gen, so its fresh rows survive)."""
    if tomb is None:
        return df
    return (
        df.join(F.broadcast(tomb), "doc_id", "left")
        .filter(F.col("tgen").isNull() | (F.col("gen") >= F.col("tgen")))
        .drop("tgen")
    )


def read_postings(spark: SparkSession, root: str, terms: tuple[str, ...]) -> DataFrame:
    """Index seek for a term set: the ``term_pfx`` IN-filter prunes at
    the DIRECTORY level (PartitionFilters — plan-pinned in
    tests/test_plans.py), the term equality prunes row groups inside
    the surviving partitions via the pushed filter. Only the queried
    terms' postings are ever read or shuffled; superseded rows are
    masked by the tombstone broadcast (skipped when none exist)."""
    ptr = _read_pointer(root)
    prefixes = sorted({(t[:1] or "_") for t in terms})
    p = (
        _read_layer(spark, _resolve(root, ptr, "postings"), "postings")
        .filter(F.col("term_pfx").isin(prefixes) & F.col("term").isin(list(terms)))
    )
    return _mask(p, _read_tombstones(spark, root, ptr)).select("term", "doc_id", "pos")


def read_all_postings(spark: SparkSession, root: str) -> DataFrame:
    """Full-vocabulary postings (tombstone-masked) — the corpus-wide
    scoring path (t07's TF-IDF) that reads every prefix partition."""
    ptr = _read_pointer(root)
    p = _read_layer(spark, _resolve(root, ptr, "postings"), "postings")
    return _mask(p, _read_tombstones(spark, root, ptr)).select("term", "doc_id", "pos")


def read_doclen(spark: SparkSession, root: str) -> DataFrame:
    """Effective (doc_id, dl) — tombstone-masked document lengths."""
    ptr = _read_pointer(root)
    d = _read_layer(spark, _resolve(root, ptr, "doclen"), "doclen")
    return _mask(d, _read_tombstones(spark, root, ptr)).select("doc_id", "dl")


def read_corpus_stats(spark: SparkSession, root: str) -> DataFrame:
    """One-row (n_docs, avgdl) compacted from the stats partials.
    Update/delete batches appended negative partials, so the plain sum
    is already the effective corpus — no tombstone join needed here."""
    ptr = _read_pointer(root)
    return (
        _read_layer(spark, _resolve(root, ptr, "stats"), "stats")
        .agg(
            F.sum("pn_docs").cast("double").alias("n_docs"),
            # try_divide: an index deleted down to ZERO docs reports a
            # NULL avgdl instead of an ANSI DIVIDE_BY_ZERO error
            F.try_divide(F.sum("pdl_sum"), F.sum("pn_docs")).alias("avgdl"),
        )
    )


# --- compaction --------------------------------------------------------


def compact_text_index(
    spark: SparkSession, root: str, gc_retention_sec: float = 120.0
) -> None:
    """Compaction — the other half of log+append maintenance (opt09's
    small-file story applied to the index): every maintenance batch
    appends one file per touched prefix partition plus doclen/stats/
    tombstone partials, so a long-lived index accretes small files that
    query-time listing, the tombstone mask join, and task scheduling
    all pay for. Compaction rewrites the index to its minimal physical
    form without changing a single query-visible row:

    * ``postings`` / ``doclen``: only EFFECTIVE rows (tombstones folded
      in physically) into fresh version dirs;
    * ``stats``: the partials fold to ONE durable row;
    * ``tombstones``: emptied — their history is now physical.

    All four layers publish with ONE atomic pointer replace
    (``layers.json`` — the KV index's version-dir + meta-pointer
    pattern, ``sources/kvstore.py``), so readers see the old snapshot
    or the new one, never a gap and never folded postings with live
    tombstones. Superseded dirs are removed by a later compaction's
    deferred GC only once they have aged past ``gc_retention_sec`` —
    the retention window a reader holding a resolved path gets to
    drain (a cycle count alone is NOT enough: two back-to-back
    compactions would collapse the drain window to milliseconds, which
    a concurrent-reader test demonstrably loses). At 100 TB this runs
    per-prefix on a size trigger (files-per-partition or bytes
    threshold), not corpus-wide, keeping tombstones that still cover
    unrewritten prefixes, and retention is sized to the longest
    query's runtime — :func:`compact_text_index_prefixes` is that
    incremental form."""
    with _writer_lock(root):
        _compact_corpus_locked(spark, root, gc_retention_sec)


def _run_deferred_gc(
    root: str, ptr: dict, now: float, gc_retention_sec: float
) -> list:
    """Deferred GC: delete superseded dirs only after the retention
    window; return the younger entries, still queued for later."""
    kept_gc = []
    for entry in ptr.get("gc", []):
        dirs, at = (
            (entry["dirs"], entry["at"]) if isinstance(entry, dict) else ([entry], 0.0)
        )
        if now - at >= gc_retention_sec:
            storage.drop_dirs(root, dirs)
        else:
            kept_gc.append({"dirs": dirs, "at": at})
    return kept_gc


def _compact_corpus_locked(
    spark: SparkSession, root: str, gc_retention_sec: float
) -> None:
    import time

    ptr = _read_pointer(root)
    now = time.time()
    kept_gc = _run_deferred_gc(root, ptr, now, gc_retention_sec)

    tomb = _read_tombstones(spark, root, ptr)
    tag = uuid.uuid4().hex[:8]
    new = {layer: f"{layer}.{tag}" for layer in _LAYERS}

    postings = _mask(_read_layer(spark, _resolve(root, ptr, "postings"), "postings"), tomb)
    # one shuffle keyed by term_pfx → one file per prefix partition (at
    # real scale the same shuffle keys to target file sizes instead)
    postings.repartition("term_pfx").write.partitionBy("term_pfx").parquet(
        os.path.join(root, new["postings"])
    )
    doclen = _mask(_read_layer(spark, _resolve(root, ptr, "doclen"), "doclen"), tomb)
    doclen.select("doc_id", "dl", "gen").coalesce(1).write.parquet(
        os.path.join(root, new["doclen"])
    )
    # fold stats from the JUST-WRITTEN compacted doclen — equals the
    # partial sum by construction, re-grounds the layer in the exact
    # published bytes, and avoids recomputing the mask join a 2nd time
    _read_layer(spark, os.path.join(root, new["doclen"]), "doclen").agg(
        F.count("*").alias("pn_docs"), F.sum("dl").alias("pdl_sum")
    ).coalesce(1).write.parquet(os.path.join(root, new["stats"]))
    os.makedirs(os.path.join(root, new["tombstones"]), exist_ok=True)

    new["gc"] = kept_gc + [
        {"dirs": [ptr.get(layer, layer) for layer in _LAYERS], "at": now}
    ]
    storage.write_pointer(_pointer_path(root), new)


def compact_text_index_prefixes(
    spark: SparkSession,
    root: str,
    max_files_per_prefix: int = 4,
    gc_retention_sec: float = 120.0,
) -> list[str]:
    """Per-prefix, size-TRIGGERED compaction — the 100 TB form the
    corpus-wide :func:`compact_text_index` docstring commits to
    (round-6 verdict task #3): only prefixes whose small-file count
    exceeds ``max_files_per_prefix`` are rewritten; every other prefix
    partition's files are carried into the new postings version dir as
    HARDLINKS (metadata-only, zero data movement — the superseded
    dir's deferred rmtree just drops link counts). Work ∝ the hot
    prefixes a maintenance stream actually touched, not the corpus.

    Tombstones are KEPT, not folded: a tombstone covers the doc's rows
    in EVERY prefix its terms hash to, so clearing it is only sound
    once all prefixes have been rewritten past it — exactly what the
    corpus-wide compaction does. Rewritten prefixes hold only
    effective rows, which re-pass the ``gen >= tgen`` mask on read
    (an update re-appends at the tombstone's own gen), so re-masking
    is idempotent and the tombstone layer stays correct for rewritten
    and carried prefixes alike. doclen/stats are untouched —
    query-visible rows and term statistics are identical before and
    after (hash-proven by ``t16`` and the unit test).

    Publishes like every other writer: one new uniquely-named postings
    dir, ONE atomic pointer replace, deferred GC after
    ``gc_retention_sec``; holds the writer lock throughout. Returns
    the compacted prefix values (empty = nothing crossed the
    threshold; the pointer is then left untouched)."""
    import glob
    import time

    with _writer_lock(root):
        ptr = _read_pointer(root)
        now = time.time()
        pdir = _resolve(root, ptr, "postings")
        # one driver-side listing — bounded by exactly the small-file
        # population this compaction exists to keep small
        by_prefix = {
            os.path.basename(d): glob.glob(os.path.join(d, "*.parquet"))
            for d in glob.glob(os.path.join(pdir, "term_pfx=*"))
        }
        chosen = sorted(
            k for k, fs in by_prefix.items() if len(fs) > max_files_per_prefix
        )
        if not chosen:
            return []
        kept_gc = _run_deferred_gc(root, ptr, now, gc_retention_sec)
        chosen_vals = [k.split("=", 1)[1] for k in chosen]

        tomb = _read_tombstones(spark, root, ptr)
        new_postings = f"postings.{uuid.uuid4().hex[:8]}"
        dst = os.path.join(root, new_postings)
        # rewrite ONLY the chosen prefixes (partition-pruned read),
        # folding the mask physically for those rows
        sub = _read_layer(spark, pdir, "postings").filter(
            F.col("term_pfx").isin(chosen_vals)
        )
        _mask(sub, tomb).repartition("term_pfx").write.partitionBy(
            "term_pfx"
        ).parquet(dst)
        # carry untouched prefixes by hardlink: O(files) metadata ops
        for k, files in by_prefix.items():
            if k in set(chosen):
                continue
            nd = os.path.join(dst, k)
            os.makedirs(nd, exist_ok=True)
            for f in files:
                os.link(f, os.path.join(nd, os.path.basename(f)))

        new = {layer: ptr.get(layer, layer) for layer in _LAYERS}
        new["postings"] = new_postings
        new["gc"] = kept_gc + [
            {"dirs": [ptr.get("postings", "postings")], "at": now}
        ]
        storage.write_pointer(_pointer_path(root), new)
        return chosen_vals


# --- build-once provisioning ------------------------------------------


def ensure_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) and return the full-corpus index root for a fixture.
    Build = one backfill over ``documents`` into staging + atomic
    publish; every later call is a marker check."""

    def build(staging: str) -> None:
        _write_index_parts(fan_out(load_table(spark, sf_dir, "documents")), staging)

    return storage.build_once(index_root(sf_dir, "full"), build)


#: t13: term statistics queried from the MAINTAINED index. Bucket 9 of
#: the tr01 split rule plays the 'newly arrived batch'.
T13_TERMS = ("customer", "join", "hash")
#: Spark-side only: the base/batch split is index-build provisioning the
#: oracle never sees (it computes term stats over the FULL documents
#: table — that blindness is the point: maintained index ≡ full build).
_T13_BUCKET_SPARK = (
    "pmod(conv(substring(md5(cast(doc_id AS STRING)), 1, 8), 16, 10), 10)"
)


def _index_term_stats(spark: SparkSession, root: str, terms: tuple[str, ...]) -> DataFrame:
    """Per-term (df, total_tf, min_doc, max_doc) read from the index
    alone — the t13/t15 verification read."""
    tf = (
        read_postings(spark, root, terms)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("total_tf"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "t13_incremental_index_maintenance",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM pos WHERE term IN {T13_TERMS}
        GROUP BY doc_id, term
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM tf GROUP BY term
    """,
)
def t13_incremental_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained index answers like the full corpus: build the
    postings index from ~90% of ``documents`` (hash buckets 0–8), apply
    ONE :func:`upsert_index_batch` with the remaining ~10% (bucket 9 —
    the 'new arrivals' a live ingest lands, ``assume_new`` because a
    growth feed is append-only), then read per-term document frequency
    / total term frequency / doc-id extremes for the query terms from
    the index alone. The oracle computes the same statistics straight
    from the full ``documents`` table, so a hash match proves the
    incremental append converged to the batch build — the property
    that lets a 100 TB deployment build the index once and stream the
    rest (``HBaseDirectory.kt``'s durable-index role, log+compaction
    style). Fixture provisioning publishes base+batch atomically; the
    batch append itself runs against the already-laid-out index tree,
    exactly as a foreachBatch call would."""
    def build(staging: str) -> None:
        docs = fan_out(load_table(spark, sf_dir, "documents"))
        bucket = F.expr(_T13_BUCKET_SPARK)
        _write_index_parts(docs.filter(bucket != 9), staging)  # the backfill
        upsert_index_batch(docs.filter(bucket == 9), staging, assume_new=True)

    base = storage.build_once(index_root(sf_dir, "split"), build)
    return _index_term_stats(spark, base, T13_TERMS)


#: t15: document update + delete through the index's tombstone path.
#: Bucket 8 docs are UPDATED ('customer' → 'client'), bucket 9 docs are
#: DELETED; term stats must reflect only the final corpus.
T15_TERMS = ("customer", "client", "join")
_T15_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10"
)


@query(
    "t15_index_doc_update",
    oracle=f"""
    WITH eff AS (
        SELECT doc_id,
               CASE WHEN {_T15_BUCKET_SQL} = 8
                    THEN replace(text, 'customer', 'client') ELSE text END AS text
        FROM documents
        WHERE {_T15_BUCKET_SQL} <> 9
    ),
    pos AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM eff
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM pos WHERE term IN {T15_TERMS}
        GROUP BY doc_id, term
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM tf GROUP BY term
    """,
)
def t15_index_doc_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document UPDATE and DELETE through the persisted index — the
    tombstone path that closes the round-5 gap (an append-only index
    served stale postings for changed documents; the reference's
    directory layer owned document replacement,
    ``HBaseDirectory.kt:83-123``). The full corpus is indexed, then ONE
    maintenance batch rewrites bucket-8 documents ('customer' →
    'client' — an edit that moves term statistics in a way stale
    postings cannot fake) and deletes bucket-9 documents outright:
    tombstones at the batch generation, new rows re-appended at that
    generation, negative stats partials for the superseded rows. The
    query then reads per-term stats for {T15_TERMS} from the index
    alone; the oracle computes them from the FINAL corpus directly —
    it never sees the pre-update text, so a hash match proves no stale
    posting leaks through the mask. ``tests/test_extensions.py``
    additionally proves compaction folds the tombstones physically
    with identical results. Scale: the mask is one broadcast join
    against tombstoned doc_ids (∝ churn since last compaction, not
    corpus); the superseded-stats lookup prunes by doc_id."""
    def build(staging: str) -> None:
        docs = fan_out(load_table(spark, sf_dir, "documents"))
        bucket = F.expr(_T13_BUCKET_SPARK)
        _write_index_parts(docs, staging)  # full original corpus, gen 0
        updated = docs.filter(bucket == 8).withColumn(
            "text", F.expr("replace(text, 'customer', 'client')")
        )
        deletes = docs.filter(bucket == 9).select("doc_id")
        upsert_index_batch(updated, staging, deletes=deletes)

    base = storage.build_once(index_root(sf_dir, "mutate"), build)
    return _index_term_stats(spark, base, T15_TERMS)


@query(
    "t16_prefix_compacted_index",
    oracle=f"""
    WITH eff AS (
        SELECT doc_id,
               CASE WHEN {_T15_BUCKET_SQL} = 8
                    THEN replace(text, 'customer', 'client') ELSE text END AS text
        FROM documents
        WHERE {_T15_BUCKET_SQL} <> 9
    ),
    pos AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM eff
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM pos WHERE term IN {T15_TERMS}
        GROUP BY doc_id, term
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM tf GROUP BY term
    """,
)
def t16_prefix_compacted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-prefix, size-triggered compaction preserves answers (round-6
    verdict task #3): t15's mutation scenario (full build, bucket-8
    documents updated 'customer' → 'client', bucket-9 deleted) followed
    by :func:`compact_text_index_prefixes` with the trigger dialed so
    only the prefixes the maintenance batch actually touched fold
    (threshold 1 file: gen-0 wrote one file per prefix, the batch
    appended a second to its prefixes) — untouched prefixes are carried
    by hardlink and still rely on the KEPT tombstones to mask their
    superseded rows. The oracle computes term stats from the FINAL
    corpus directly, so the hash match proves the mixed state —
    physically-folded prefixes beside tombstone-masked ones — serves
    exactly the corpus truth. This is the compaction a 100 TB index
    runs continuously: work ∝ hot prefixes, not corpus."""
    def build(staging: str) -> None:
        docs = fan_out(load_table(spark, sf_dir, "documents"))
        bucket = F.expr(_T13_BUCKET_SPARK)
        _write_index_parts(docs, staging)  # full original corpus, gen 0
        updated = docs.filter(bucket == 8).withColumn(
            "text", F.expr("replace(text, 'customer', 'client')")
        )
        deletes = docs.filter(bucket == 9).select("doc_id")
        upsert_index_batch(updated, staging, deletes=deletes)
        compacted = compact_text_index_prefixes(
            spark, staging, max_files_per_prefix=1
        )
        if not compacted:  # the trigger must fire or this tests nothing
            raise RuntimeError("t16: prefix compaction did not trigger")

    base = storage.build_once(index_root(sf_dir, "prefixcomp"), build)
    return _index_term_stats(spark, base, T15_TERMS)
