#!/usr/bin/env python
"""Benchmark harness — detail line then a compact headline line.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints
TWO JSON lines:

    {"metric": "headline_detail", "unit": "sec",
     "queries": {"<name>": <sec>, ...},
     "phases": {"<lifecycle name>": {"build": <sec>, "serve": <sec>,
                                     "provision": <sec>}},
     "sf": <sf>}
    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {"<key>": <sec>, ...}, "sf": <sf>,
     "queries_n": <count>}

The FINAL line is the driver contract and is guaranteed compact
(< 1 KB): the round-11 record was lost because a single ever-growing
JSON line overflowed the driver's ~2.2 KB stdout tail-capture window
and arrived truncated (``BENCH_r11.json`` ``parsed: null``). The
driver keeps the END of stdout, so the last line must stay small.

Round-14 fix (VERDICT r13 task #1): rounds 12-13 kept the final line
small by emptying its ``queries`` map, which left the driver's
per-query record (``PERF_r{N}.json`` ``per_query``/``scaling``) BLIND
for two rounds — the full-name map rode the detail line, outside the
driver's parse. The final line now carries the per-query map under
SHORT STABLE KEYS: each entry's unique family prefix — the substring
before the first ``_`` (``src13_kv_bulk_load`` -> ``src13``,
``flagship_revenue_by_nation`` -> ``flagship``), see
:func:`short_key`. 62 keys at 2 dp fit in ~900 B; uniqueness and the
<1 KB budget are pinned by ``tests/test_driver_contract.py``. The
detail line keeps the full names at 3 dp (nothing removed or renamed
— the full-name records every earlier round published live there,
and the final line's short-key map is a pure ADDITION to its
previously-empty ``queries``).

Testing knob: ``$SPARK_GRAFT_BENCH_ONLY`` (comma-separated HEADLINE
entry names) restricts the run to a slice — the bench-contract test
pins the two-line output FORMAT, which does not need 62-entry
coverage (its full-bench subprocess ran 700+ s and timed out the
driver's pytest budget — VERDICT r13 task #2). The driver never sets
it: unset, the full HEADLINE runs exactly as before. A sliced run marks
both output lines ``"sliced": true`` so its partial total can never be
mistaken for a headline record.

``queries`` (detail line) carries each entry's full cost (build +
serve — comparable with every earlier round's records); ``phases``
splits the LIFECYCLE entries so serving-path regressions aren't
drowned by provisioning noise (see the LIFECYCLE constant below and
SCALE.md rounds 11-12). Phase semantics: ``serve`` is the returned
plan's execution (steady-state read path); ``build`` is the fn-call
half of the min-of-3 TIMED runs — for entries whose fixtures are
build-once cached (ensure_* stores, persisted indexes) that is the
steady-state marker-check + statement-sized-commit overhead, NOT
provisioning cost; ``provision`` is the fn-call time of the UNTIMED
first (warmup) run — the one-time store build / backfill a deployment
pays once, recorded so provisioning regressions are visible without
polluting the steady-state numbers.

Timing method: each query DataFrame is written to the ``noop`` sink, so
the full plan executes JVM-side (scan -> shuffle -> agg/join/window)
without driver-side collect overhead — the same work profile the plan
would have on a cluster writing Parquet. A warmup query first absorbs
session/JIT startup so per-query numbers are plan cost, not codegen
compile cost.

Log note (for anyone auditing the stderr tail): t12/t14 emit
``WindowExec: No Partition Defined`` warnings. These windows rank the
K rows SURVIVING a TakeOrderedAndProject cut (K=20/15 — bounded by
construction; a constant partition key would fold away before the
check fires), so the warning's moving-all-data concern cannot apply;
the sweep guard in tests/test_plans.py structurally bans the unbounded
form everywhere. Not a scale hazard — do not chase it.
"""

from __future__ import annotations

import json
import os
import sys
import time

from kt_sql_hbase_ex_spark import registry
from kt_sql_hbase_ex_spark.session import get_session
from kt_sql_hbase_ex_spark.sources.catalog import default_sf_dir

# One representative per operator family (SURVEY.md §2): scan+filter
# pushdown, multi-way join, hash aggregate, rollup, window, top-k,
# set op, DML-as-transform, scalar functions, text analysis, minhash
# dedup, embedding similarity, streaming window. These are the queries
# whose shape dominates cost at 100 TB (wide shuffles, Pandas-UDF
# stages), so they are the ones worth tracking round over round.
# The first 16 are the round-1..4 set (kept intact for round-over-round
# comparability); the tail adds the iterative/composed pipelines that
# landed in rounds 4-5 — PageRank-to-convergence (driver loop +
# checkpoints), the end-to-end training-data pipeline, cohort revenue,
# the SCD2 point-in-time join, and BM25 over the persisted index —
# whose regressions matter most precisely because no single-operator
# number covers a composition.
HEADLINE = (
    "flagship_revenue_by_nation",
    "s03_projected_filtered_scan",
    "j01_inner_equi_join",
    "a01_pricing_summary",
    "a05_rollup",
    "w01_row_number_topk_per_group",
    "sl01_top_k",
    "set04_intersect_all",
    "dml04_upsert_merge",
    "f03_datetime_functions",
    "t07_tfidf",
    "d03_minhash_lsh",
    "sim01_cosine_topk",
    "ts01_asof_join",
    "ts02_range_join",
    "st01_tumbling_window",
    # round-5 additions (r4 verdict task #6)
    "d10_pagerank_converged",
    "tr12_curation_pipeline",
    "ev10_cohort_ltv",
    "j12_temporal_dimension_join",
    "t12_bm25_search",
    # round-6 additions (r5 verdict task #6): the persisted-index READ
    # and lifecycle paths — t13 reads term stats from the maintained
    # postings index (pruned index seek), src09 serves a lookup through
    # the persisted KV secondary index (rowkey-range pushdown + semi
    # join) — so regressions in the index layers land in BENCH_r{N}.
    # Both provision on first call (index build / CREATE INDEX backfill)
    # and the warmup pass absorbs that, so the timed number is the
    # steady-state read path, exactly what a deployment pays per query.
    "t13_incremental_index_maintenance",
    "src09_kv_persisted_index_lookup",
    # round-7 addition (r6 verdict task #7): the tombstone-MASKED index
    # read (t15 serves term stats through the gen>=tgen broadcast mask
    # over an updated+deleted corpus) — the one index configuration t13
    # (pure append, no mask join) doesn't track round-over-round.
    "t15_index_doc_update",
    # round-7 additions: the steady-state STORE-PROBE paths this round
    # made first-class — d14 probes the persisted LSH band store with an
    # arriving batch (work ∝ batch + collisions), sim08 probes the
    # persisted IVF store (frozen-centroid route + pruned cell rerank).
    # Both provision their store on first call; the warmup pass absorbs
    # that, so the timed number is the per-batch probe a standing
    # admission pipeline pays — the cost that matters at 100 TB.
    "d14_incremental_neardup",
    "sim08_incremental_ann",
    # late round-7 additions: the two new EXECUTION SHAPES this round
    # introduced — d16 runs Catalyst's native recursive-CTE loop (one
    # shuffle join per level over the persisted pair graph; tracks the
    # UnionLoop operator's cost round-over-round), tr14 composes the
    # striped two-pass global rank with broadcast quota joins (the
    # temperature-mixture draw; tracks the range-repartition + rank
    # path tr04 shares).
    "d16_khop_reachability",
    "tr14_temperature_mixture",
    # round-8 additions (r7 verdict task #6 + this round's store
    # maintenance): src10 is the WAL read path (batch change-feed scan,
    # one task per retained commit — the only round-7 surface bench
    # didn't track); src11 times the full compaction CYCLE (truncate →
    # mutate → fold → generation scan) each run, the src09 pattern of
    # timing the lifecycle rather than one cached read.
    "src10_change_feed_batch_audit",
    "src11_kv_compacted_scan",
    # round-8 addition: the substring-dedup window pass — a NEW
    # execution shape (corpus-linear tokenize+window explode into one
    # md5-keyed hash shuffle) no other headline entry exercises.
    "d17_repeated_span_detection",
    # round-9 additions (r8 verdict task #4): the four round-8/9
    # surfaces bench didn't track — sim11 probes the RETRAINED IVF
    # generation (fixed-point Lloyd publish + pruned probe), src12 is
    # the WAL time-travel read (snapshot-anchored base ∪ feed span +
    # per-key last-write window), st17 drives the CDC downstream
    # replica (live commits applied through the two-phase connector
    # write), tr15 is the span-scrub ledger over the size-guarded
    # duplicated-window probe. Plus the two round-9 shapes: tr16's
    # position-level rewrite (collect_set per doc + higher-order
    # filter) and sim12's before/after recall readout (two store
    # probes + a brute-force ground-truth rerank).
    "sim11_retrained_ivf_probe",
    "src12_kv_timetravel",
    "st17_cdc_replica",
    "tr15_span_scrub",
    "tr16_span_scrubbed_corpus",
    "sim12_retrain_recall_readout",
    # round-10 addition: the bulk-load cycle (put batch → fold →
    # delete batch → DISTRIBUTED region-pruned bulk merge → generation
    # scan) — the src11 lifecycle pattern for the store's actual
    # at-scale ingest path (mapInArrow merge tasks + hardlink carries
    # + marker claim), which no other entry exercises.
    "src13_kv_bulk_load",
    # round-10 addition: the TTL lifecycle (backdated + fresh put
    # batches -> fold with expiry reclaim -> TTL-filtered scan) — the
    # expiring-store read path src02-style scans don't exercise.
    "src14_kv_ttl_scan",
    # round-10 addition: the operational recovery path — replica drains
    # the feed, a bulk load stops it loudly at the marker, snapshot
    # re-baseline via the replica's own bulk load, prune, resubscribe,
    # post-bulk commits replicate live (two stream lifecycles + two
    # distributed bulk loads; lifecycle-priced like st17 by design).
    "st18_cdc_replica_rebaseline",
    # round-10 addition: the atomic-counter path (two increment commits
    # over 41 hot keys + create-on-increment, read back through the
    # connector) — the read-modify-write commit shape Put/Delete
    # entries don't exercise.
    "src15_kv_increment",
    # round-10 addition: the compare-and-swap path (three CAS commits:
    # conditional put, conditional delete, create-if-absent + losing
    # retry) — the optimistic-concurrency commit shape the counter
    # entry doesn't exercise.
    "src16_kv_check_and_put",
    # round-10 addition: the snapshot lifecycle (two mutation waves →
    # zero-copy snapshot → rollback behind the bulk marker → clone into
    # a second store + distributed clone≡source proof) — the admin /
    # disaster-recovery path nothing else prices.
    "src17_kv_snapshot_restore",
    # round-10 addition: SemDeDup — embedding-cluster semantic dedup
    # (cell assignment + within-cell pairwise pass); prices the
    # cell-bounded quadratic shape nothing else in the sweep has.
    "d18_semantic_dedup",
    # round-10 addition: the cell-append path (two append commits over
    # 41 hot keys + create-on-append) — completes the priced mutation
    # quintet (Put/Delete/Increment/CAS/Append).
    "src18_kv_append",
    # round-10 addition: PQ encode -> ADC shortlist -> exact rerank —
    # the compressed-domain retrieval shape (integer table-lookup
    # scoring over codes, raw vectors touched only for the shortlist).
    "sim13_pq_adc_topk",
    # round-10 addition: the composed IVF+PQ serving stack (coarse cell
    # pruning -> integer ADC over probed cells -> shortlist rerank) —
    # the full compressed-index query path production deployments run.
    "sim14_ivfpq_probe",
    # round-10 addition: the PQ training pass (fixed-point per-subspace
    # Lloyd step + re-encode + serve) — prices the codebook-maintenance
    # shape the seeded sim13 entry doesn't.
    "sim15_pq_trained_codebooks",
    # round-11 addition: the persisted-PQ-store probe (frozen trained
    # books + on-disk code table, grown via append, compacted) — the
    # steady-state compressed-index serving path; the store provisions
    # once (warmup absorbs it) so the timed number is the pure probe.
    "sim16_pq_store_probe",
    # round-11 addition: residual-encoded IVFADC (per-probed-cell
    # distance tables + cell-routed ADC) — the serving shape whose
    # table fan-out sim14's single-table form doesn't price.
    "sim17_residual_ivfpq",
    # round-11 addition: the five-op mutation mix — interleaved
    # put/increment/CAS/append/delete batches then a fold, so WAL-write
    # + overlay-publish overhead under realistic interleaving is
    # tracked as ONE number (the per-op entries can't see cross-op
    # interleaving cost).
    "src19_kv_mutation_mix",
    # round-12 additions: sim18 is the FILTERED ANN serving path
    # (predicate pushed into the membership scan -> ADC survivors ->
    # rerank) — the production retrieval shape sim14's unfiltered form
    # doesn't price; sim19 is the recall readout (two store probes +
    # sampled exact ground truth) the PQ retrain trigger reads — a
    # scheduled maintenance job whose regression matters because a
    # slow readout stops being run; src20 drives the versioned-cells
    # lifecycle (timestamped put waves, masking delete, fold-prune,
    # post-fold put, history reads through the bloom-routed Get).
    "sim18_filtered_ann",
    "sim19_pq_recall_readout",
    "src20_kv_versioned_cells",
    # round-12: the versioned TIME-RANGE SCAN (same lifecycle fixture,
    # the distributed window-over-union read path src20's point
    # history doesn't price)
    "src21_kv_versioned_asof_scan",
    # round-13 additions: the persisted mergeable-sketch serving paths
    # — sk01 answers a distinct-count slice by max-merging the HLL
    # register store's per-segment rows (the ingest-time
    # pre-aggregation read that replaces raw scans at 100 TB), sk03
    # probes the count-min counter store for heavy-hitter frequencies
    # (d broadcast lookups per probe). Both provision their store once
    # (warmup absorbs it); the timed number is the steady-state
    # sketch-merge read plus the exact-count companion scan that rides
    # for grading.
    "sk01_hll_rollup",
    "sk03_cm_heavy_hitters",
    # round-13: the quantile-sketch read — per-group cumulative-rank
    # selection over the additive log-histogram store (a window over
    # bucket rows), the percentile-serving shape approx_percentile
    # scans can't price because the store never touches raw rows.
    "sk04_quantile_rollup",
    # round-13: the set-operation sketch read — union/intersection
    # estimates from bottom-k rows (sketch-sized joins + windows) with
    # the exact-overlap self-join companion; prices the KMV merge
    # shape the additive/max-merge sketch entries don't.
    "sk05_kmv_audience_overlap",
    # round-13: level-selected serving from the persisted
    # continuous-aggregate cascade — day totals from the day rows plus
    # one pruned hour partition; the store provisions once (warmup
    # absorbs the three appends + rollup), so the timed number is the
    # rollup-read path a dashboard pays.
    "ts07_continuous_aggregate",
    # round-13: the live sketch-ingest loop — four microbatch register
    # appends + mid-drain size-triggered compaction + the merged serve;
    # prices the streaming pre-aggregation shape (per-batch register
    # group-by, no history re-hash) nothing else tracks.
    "st20_streaming_sketch_maintenance",
    # round-13 addition: the incrementally-maintained aggregate view —
    # a live drain crediting per-commit deltas (replica point-gets +
    # partial append + idempotent replica apply) with a mid-stream log
    # compaction; prices the IVM consumer shape st17's row-replica
    # doesn't (per-commit point-get + driver-side delta credit).
    "st19_incremental_matview",
)

# Store-LIFECYCLE entries (round-11, r10 verdict task #2): these time
# provisioning (store builds, mutation commits, folds, stream drains)
# INSIDE the entry, so their totals swing 3-5x between equally-valid
# runs and a real serving-path regression would drown in the noise.
# Every query fn runs its eager provisioning work when CALLED and
# returns the final read as a lazy DataFrame — so the harness times the
# two halves separately: build = the fn call (mutations/folds/drains),
# serve = executing the returned plan (the steady-state read a
# deployment pays per query). headline_total still sums build+serve,
# keeping it comparable with every earlier round; regression detection
# on these entries should read phases[name]["serve"].
LIFECYCLE = frozenset(
    {
        "src11_kv_compacted_scan",
        "src12_kv_timetravel",
        "src13_kv_bulk_load",
        "src14_kv_ttl_scan",
        "src15_kv_increment",
        "src16_kv_check_and_put",
        "src17_kv_snapshot_restore",
        "src18_kv_append",
        "src19_kv_mutation_mix",
        "st17_cdc_replica",
        "st18_cdc_replica_rebaseline",
        "d18_semantic_dedup",
        "sim12_retrain_recall_readout",
        "sim15_pq_trained_codebooks",
        "t13_incremental_index_maintenance",
        "t15_index_doc_update",
        # round-12: sim19 runs two probes + a sampled ground truth per
        # call (readout job); src20 replays its whole mutation/fold
        # lifecycle per call
        "sim19_pq_recall_readout",
        "src20_kv_versioned_cells",
        "src21_kv_versioned_asof_scan",
        # round-13: st19 provisions two stores + drains four commits
        # through the crediting apply per call; the serve phase is the
        # partial-log fold (the view read a deployment pays). st20
        # re-chunks and re-drains the register ingest per call; its
        # serve phase is the merged-store estimate read.
        "st19_incremental_matview",
        "st20_streaming_sketch_maintenance",
    }
)


def _run_once(df) -> None:
    # noop sink: full execution, rows discarded executor-side.
    df.write.format("noop").mode("overwrite").save()


def short_key(name: str) -> str:
    """The entry's short stable key for the compact final line: the
    unique family prefix before the first ``_``. Stable because entry
    names never change (the driver's round-over-round comparison keys
    on them) and every HEADLINE name starts with a distinct family
    code — uniqueness is test-pinned, and an accidental future
    collision fails loudly in main() rather than silently dropping a
    record."""
    return name.split("_", 1)[0]


def headline_names() -> tuple:
    """The entries this run times: the full HEADLINE, or the
    ``$SPARK_GRAFT_BENCH_ONLY`` slice (testing knob — see module
    docstring; unknown names fail loudly in main's registry check)."""
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if not only:
        return HEADLINE
    picked = tuple(n.strip() for n in only.split(",") if n.strip())
    unknown = [n for n in picked if n not in HEADLINE]
    if unknown:
        raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY names not in HEADLINE: {unknown}")
    return picked


def main() -> None:
    sf_dir = default_sf_dir()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    headline = headline_names()
    sliced = {"sliced": True} if os.environ.get("SPARK_GRAFT_BENCH_ONLY") else {}
    keys = [short_key(n) for n in headline]
    if len(set(keys)) != len(keys):
        dupes = sorted({k for k in keys if keys.count(k) > 1})
        print(f"bench: short-key collision {dupes}", file=sys.stderr)
        sys.exit(2)
    spark = get_session("bench")

    queries = registry.all_queries()
    missing = [name for name in headline if name not in queries]
    if missing:
        print(f"bench: unknown headline queries {missing}", file=sys.stderr)
        sys.exit(2)

    # Pass 1: one untimed warmup run of EVERY headline query, so the
    # timed pass sees a fully JIT-warmed JVM. A query's first execution
    # pays whole-stage-codegen compilation (driver-side Janino, measured
    # 3-9 s on the minhash signature plan, ~1.3 s once compiled) AND the
    # session's first few jobs pay HotSpot compiling Spark's own shuffle
    # and scan machinery — with per-query-interleaved warmups the
    # EARLIEST queries were still billed that global JIT cost (flagship
    # read ~2x its steady state purely from running first). At 100 TB
    # both costs amortize to nothing, so the warm number is the one that
    # projects.
    provision: dict[str, float] = {}
    for name in headline:
        start = time.perf_counter()
        df = queries[name].fn(spark, sf_dir)
        if name in LIFECYCLE:
            # first-call fn time = true provisioning (store build,
            # index backfill) — every later call hits the cached
            # fixture, so only this number tracks build-cost drift.
            provision[name] = round(time.perf_counter() - start, 3)
        _run_once(df)

    # Pass 2: min of three timed runs per query — the steady-state plan
    # cost. A JVM GC nudge before each query keeps the previous query's
    # garbage from billing a collection pause to this one; min-of-3
    # tightens the long tail a host-shared CPU adds to single runs.
    timings: dict[str, float] = {}
    phases: dict[str, dict[str, float]] = {}
    for name in headline:
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
        best = (float("inf"), 0.0, 0.0)  # (total, build, serve)
        for _ in range(3):
            start = time.perf_counter()
            df = queries[name].fn(spark, sf_dir)  # build: eager provisioning
            mid = time.perf_counter()
            _run_once(df)  # serve: the returned plan's execution
            end = time.perf_counter()
            if end - start < best[0]:
                best = (end - start, mid - start, end - mid)
        timings[name] = round(best[0], 3)
        if name in LIFECYCLE:
            phases[name] = {
                "build": round(best[1], 3),
                "serve": round(best[2], 3),
                "provision": provision[name],
            }

    # Detail line first (full breakdown), compact headline line LAST —
    # the driver's stdout tail window keeps the end, so the final line
    # must stay < 1 KB (pinned by test_bench_final_line_is_compact).
    print(
        json.dumps(
            {
                "metric": "headline_detail",
                "unit": "sec",
                "queries": timings,
                "phases": phases,
                "sf": sf,
                **sliced,
            }
        )
    )
    # Final line: short-key per-query map (full precision would blow
    # the budget; 2 dp resolves a 5% regression on a 0.3 s entry, and
    # the 3 dp full-name record rides the detail line). Compact
    # separators: ~140 B of pure whitespace at 62 entries. If a future
    # entry set ever outgrows 2 dp, fall back to 1 dp before failing —
    # a coarser record beats the blind empty map of rounds 12-13.
    for ndigits in (2, 1):
        final = json.dumps(
            {
                "metric": "headline_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": {
                    short_key(n): round(t, ndigits) for n, t in timings.items()
                },
                "sf": sf,
                "queries_n": len(timings),
                **sliced,
            },
            separators=(",", ":"),
        )
        if len(final.encode()) < 1024:
            break
    else:
        # Hard driver-contract failure (NOT an assert: -O must not strip
        # it — an oversized final line silently truncates in the
        # driver's ~2.2 KB stdout tail window, the exact round-11
        # record-loss failure this guard exists to prevent).
        raise RuntimeError(
            f"final headline line {len(final.encode())}B >= 1024B budget"
        )
    print(final)


if __name__ == "__main__":
    main()
