"""Semantic checks the SQL oracle can't express: probabilistic-operator
recall, Pandas-UDF value-exactness, sketch error bounds."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from kt_sql_hbase_ex_spark.functions.dedup import (
    d02_ngram_jaccard,
    d03_minhash_lsh,
    simhash_signatures,
)
from kt_sql_hbase_ex_spark.functions.multimodal import mm02_decode_features
from kt_sql_hbase_ex_spark.functions.similarity import (
    d05_embedding_neardup,
    embedding_neardup_exact,
    sim01_cosine_topk,
    sim02_lsh_ann,
)
from kt_sql_hbase_ex_spark.sources.catalog import load_table


def test_minhash_lsh_recall(spark, sf_oracle):
    """LSH must recover ≥90% of the true (quadratic-verified) near-dup
    pairs — with 4 bands of 3 at j≥0.9, expected recall ≈99.5%."""
    truth = {
        (r["doc_a"], r["doc_b"]) for r in d02_ngram_jaccard(spark, sf_oracle).collect()
    }
    found = {
        (r["doc_a"], r["doc_b"]) for r in d03_minhash_lsh(spark, sf_oracle).collect()
    }
    assert truth, "ground-truth near-dup set is empty — fixture changed?"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall:.2%} (found {len(found)}, truth {len(truth)})"
    # verification step guarantees no false positives above threshold
    assert found <= truth | found  # sanity; all found pairs carry verified jaccard


def test_lsh_ann_recall_vs_bruteforce(spark, sf_oracle):
    """Bucketed ANN recall@10 vs the exact baseline. One 6-bit hyperplane
    table is a coarse filter; require ≥30% overlap (single-table LSH;
    production uses multiple tables OR'd together for high recall)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim01_cosine_topk(spark, sf_oracle).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim02_lsh_ann(spark, sf_oracle).collect()
    }
    assert exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"ANN recall {recall:.2%}"


def test_embedding_neardup_recall_and_precision(spark, sf_oracle):
    """The registered d05 (LSH-bucketed candidates + exact-cosine verify)
    vs the unregistered quadratic ground truth: precision must be exact
    (every emitted pair is a true pair — verification guarantees it) and
    recall high (8 tables × 4 bits at cos≈0.45-0.5 ⇒ ~80% expected;
    fixture realizes ~93%)."""
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_exact(spark, sf_oracle).collect()
    }
    found = {
        (r["vec_a"], r["vec_b"])
        for r in d05_embedding_neardup(spark, sf_oracle).collect()
    }
    assert exact, "ground-truth near-dup set is empty — fixture changed?"
    assert found <= exact, f"false positives: {found - exact}"
    recall = len(exact & found) / len(exact)
    assert recall >= 0.6, f"near-dup recall {recall:.2%}"


import pytest


@pytest.mark.parametrize("n_cells", [None, 8])
def test_semantic_dedup_drop_rule_vs_ground_truth(spark, sf_oracle, n_cells):
    """d18 (SemDeDup: within-cell first-wins drops) vs the quadratic
    ground truth, AT TWO CELL COUNTS (round-11: the corpus-derived
    default and an explicit override): the per-cell drop counts must
    equal replaying the exact near-dup pairs restricted to same-cell
    membership — i.e. the clustering is the ONLY approximation, the
    within-cell pass itself is exact at any granularity. Also pins the
    accounting identity kept + dropped = members and total members =
    corpus size."""
    from kt_sql_hbase_ex_spark.functions.similarity import (
        _D18_THRESHOLD,
        D18_TARGET_CELL_ROWS,
        semantic_dedup,
    )

    report = {
        r["cid"]: r
        for r in semantic_dedup(spark, sf_oracle, n_cells).collect()
    }
    n_corpus = load_table(spark, sf_oracle, "embeddings").count()
    assert sum(r["n_members"] for r in report.values()) == n_corpus
    assert all(
        r["n_kept"] + r["n_dropped"] == r["n_members"]
        for r in report.values()
    )
    assert sum(r["n_dropped"] for r in report.values()) > 0, (
        "fixture produces no semantic drops — threshold drifted?"
    )

    # replay: exact pairs (cosine already >= the d05 threshold ==
    # _D18_THRESHOLD) restricted to same-cell membership give the drop
    # set — membership read from the PERSISTED store (round-12: the
    # quantizer is TRAINED at build, so the test replays against the
    # actual clustering rather than re-deriving the seeds; the point
    # is unchanged — clustering is the ONLY approximation, the
    # within-cell pass is exact at any granularity)
    from kt_sql_hbase_ex_spark.functions.similarity import (
        _ivf_cells_dir,
        ensure_semdedup_store,
    )
    from pyspark.sql import functions as F

    k = n_cells or max(1, n_corpus // D18_TARGET_CELL_ROWS)
    root = ensure_semdedup_store(spark, sf_oracle, n_cells)
    cell = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(_ivf_cells_dir(root))
        .select("vec_id", "cell")
        .collect()
    }
    # every populated cell reports; cells the Lloyd step emptied don't
    assert len(report) == len(set(cell.values())) <= k
    exact_pairs = [
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in embedding_neardup_exact(spark, sf_oracle).collect()
    ]
    expected_drops: dict = {}
    for a, b, c in exact_pairs:
        if cell[a] == cell[b] and round(c, 6) >= _D18_THRESHOLD:
            expected_drops.setdefault(cell[a], set()).add(max(a, b))
    for cid, r in report.items():
        assert r["n_dropped"] == len(expected_drops.get(cid, set())), cid


def test_pq_adc_recall_vs_exact(spark, sf_oracle):
    """sim13 (PQ encode -> ADC shortlist -> exact rerank) vs
    brute-force exact L2 top-k: the shortlist+rerank repairs PQ's
    quantization loss to usable recall (fixture ~0.7; floor 0.5), and
    every emitted distance is EXACT by construction (the rerank
    recomputes true L2), so precision-of-distance is not approximate."""
    from pyspark.sql import Window as W

    from kt_sql_hbase_ex_spark.functions.similarity import (
        QUERY_VEC_IDS,
        TOP_K,
        _dot_spark,
        sim13_pq_adc_topk,
    )

    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim13_pq_adc_topk(spark, sf_oracle).collect()
    }
    e = load_table(spark, sf_oracle, "embeddings").select(
        "vec_id", "embedding"
    )
    q = e.filter(F.col("vec_id").isin(*QUERY_VEC_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    l2 = (
        _dot_spark("qv", "qv")
        - 2 * _dot_spark("qv", "embedding")
        + _dot_spark("embedding", "embedding")
    )
    scored = q.join(e, F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), l2.alias("d")
    )
    w = W.partitionBy("query_id").orderBy(F.round("d", 6), "neighbor_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"PQ+rerank recall {recall:.2%}"


def test_ivfpq_recall_vs_exact(spark, sf_oracle):
    """sim14 (IVF probe -> ADC over probed cells -> exact rerank) vs
    brute-force exact L2: the composed stack beats plain PQ on this
    fixture (~0.83 vs ~0.7) because cell pruning stops far-away
    vectors from wasting shortlist slots; floor 0.6."""
    from pyspark.sql import Window as W

    from kt_sql_hbase_ex_spark.functions.similarity import (
        QUERY_VEC_IDS,
        TOP_K,
        _dot_spark,
        sim14_ivfpq_probe,
    )

    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim14_ivfpq_probe(spark, sf_oracle).collect()
    }
    e = load_table(spark, sf_oracle, "embeddings").select(
        "vec_id", "embedding"
    )
    q = e.filter(F.col("vec_id").isin(*QUERY_VEC_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    l2 = (
        _dot_spark("qv", "qv")
        - 2 * _dot_spark("qv", "embedding")
        + _dot_spark("embedding", "embedding")
    )
    scored = q.join(e, F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), l2.alias("d")
    )
    w = W.partitionBy("query_id").orderBy(F.round("d", 6), "neighbor_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.6, f"IVFPQ recall {recall:.2%}"


def test_trained_pq_codebooks_do_not_lose_recall(spark, sf_oracle):
    """sim15 (one exact fixed-point Lloyd step per subspace codebook)
    vs sim13 (seeded books): training must not lose recall on the
    fixture — it gains (~0.73 vs ~0.70) — and stays above the absolute
    floor. The oracle gate already proves the trained books replay
    bit-for-bit in DuckDB; this pins the training's POINT."""
    from pyspark.sql import Window as W

    from kt_sql_hbase_ex_spark.functions.similarity import (
        QUERY_VEC_IDS,
        TOP_K,
        _dot_spark,
        sim13_pq_adc_topk,
        sim15_pq_trained_codebooks,
    )

    e = load_table(spark, sf_oracle, "embeddings").select(
        "vec_id", "embedding"
    )
    q = e.filter(F.col("vec_id").isin(*QUERY_VEC_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    l2 = (
        _dot_spark("qv", "qv")
        - 2 * _dot_spark("qv", "embedding")
        + _dot_spark("embedding", "embedding")
    )
    scored = q.join(e, F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), l2.alias("d")
    )
    w = W.partitionBy("query_id").orderBy(F.round("d", 6), "neighbor_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .collect()
    }

    def recall(fn):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in fn(spark, sf_oracle).collect()
        }
        return len(got & exact) / len(exact)

    seeded, trained = recall(sim13_pq_adc_topk), recall(
        sim15_pq_trained_codebooks
    )
    assert trained >= seeded, (trained, seeded)
    assert trained >= 0.5, trained


def test_simhash_signature_stability(spark, sf_small):
    """Signatures are deterministic and 32-bit bounded."""
    sig = {r["doc_id"]: r["simhash"] for r in simhash_signatures(spark, sf_small).collect()}
    sig2 = {r["doc_id"]: r["simhash"] for r in simhash_signatures(spark, sf_small).collect()}
    assert sig == sig2
    assert all(0 <= s < 2**32 for s in sig.values())


def test_mm02_decode_features_exact(spark, sf_small):
    """The mapInPandas feature extractor must match a plain-Python
    recomputation byte for byte (deterministic stub contract)."""
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_small, "documents").select("doc_id", "text").collect()
    }
    feats = {r["media_id"]: r for r in mm02_decode_features(spark, sf_small).collect()}
    assert set(feats) == set(docs)
    for doc_id, text in list(docs.items())[:50]:
        b = text.encode("utf-8")
        row = feats[doc_id]
        assert row["n_bytes"] == len(b)
        # raw IEEE quotient, deliberately unrounded (cross-engine ties at
        # 6dp — see mm02's docstring); must be bit-identical to Python's
        assert row["mean_byte"] == sum(b) / len(b)
        assert row["head_hex"] == b[:4].hex()


def test_approx_count_distinct_error(spark, sf_oracle):
    """HLL sketch estimate within the configured 2%+slack of exact."""
    li = load_table(spark, sf_oracle, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).collect()[0]
    rel_err = abs(row["approx"] - row["exact"]) / row["exact"]
    assert rel_err < 0.05, f"approx={row['approx']} exact={row['exact']}"


def test_portable_hash32_matches_python(spark):
    """The md5-prefix hash32 used across dedup/similarity equals a
    reference Python computation (and therefore DuckDB's)."""
    df = spark.createDataFrame([("abc",), ("spark",)], schema="s string").select(
        "s", F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("bigint").alias("h")
    )
    for r in df.collect():
        expected = int(hashlib.md5(r["s"].encode()).hexdigest()[:8], 16)
        assert r["h"] == expected


def test_minhash_arithmetic_no_overflow():
    """The shuffle-free signature relies on every intermediate staying
    inside int64 in BOTH engines: token hashes < 2^32, the combined
    shingle hash < 2^32, and the permutation product a*h < 2^63. Pin
    the bounds so coefficient changes can't silently wrap (Spark ANSI
    and DuckDB both *error* on BIGINT overflow — this keeps that from
    ever triggering)."""
    from kt_sql_hbase_ex_spark.functions.dedup import (
        HASH_SPACE,
        MINHASH_A,
        MINHASH_B,
        SHINGLE_C1,
        SHINGLE_C2,
    )

    max_h = HASH_SPACE - 1
    assert (max_h * SHINGLE_C1 + max_h * SHINGLE_C2 + max_h) < 2**63
    assert max(MINHASH_A) * max_h + max(MINHASH_B) < 2**63


def test_zorder_interleave_bijective_and_covering():
    """The Morton code must be a bijection on the 2^(2*Z_BITS) grid
    (no two cells share a bucket → pruning can never drop a matching
    row), and a box's covering set must have exactly box-area buckets
    at this granularity (1 cell = 1 bucket)."""
    from kt_sql_hbase_ex_spark.operators.optimize import Z_BITS, _z_interleave

    side = 1 << Z_BITS
    codes = {_z_interleave(x, y) for x in range(side) for y in range(side)}
    assert len(codes) == side * side
    assert codes == set(range(side * side))
    box = [(x, y) for x in range(2, 6) for y in range(3, 5)]
    assert len({_z_interleave(x, y) for x, y in box}) == len(box)


def test_decontamination_matches_python_model(spark, sf_oracle):
    """tr05 against an independent driver-side Python model: same
    bucket rule, same gram hashing, computed with hashlib + set
    algebra instead of SQL — catches split/gram off-by-ones that a
    same-algorithm SQL oracle could share."""
    from kt_sql_hbase_ex_spark.functions.pipeline import GRAM_N, N_BUCKETS
    from kt_sql_hbase_ex_spark.functions.pipeline import tr05_decontamination

    docs = load_table(spark, sf_oracle, "documents").select("doc_id", "text").collect()

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def grams(text: str) -> set:
        toks = text.split(" ")
        return {
            h32(" ".join(toks[i : i + GRAM_N]))
            for i in range(len(toks) - GRAM_N + 1)
        }

    bucket = {r["doc_id"]: h32(str(r["doc_id"])) % N_BUCKETS for r in docs}
    test_grams = set().union(
        *(grams(r["text"]) for r in docs if bucket[r["doc_id"]] == 9), set()
    )
    expected = {}
    for r in docs:
        if bucket[r["doc_id"]] <= 7:
            shared = grams(r["text"]) & test_grams
            if shared:
                expected[r["doc_id"]] = len(shared)

    got = {
        r["doc_id"]: r["n_shared_grams"]
        for r in tr05_decontamination(spark, sf_oracle).collect()
    }
    assert got == expected


def test_pagerank_converged_invariants(spark, sf_oracle):
    """d10's fixed-point claims, verified independently of the oracle:
    (a) total rank is conserved at 1 (the symmetrized pair graph has no
    dangling nodes, so each power iteration redistributes — never
    leaks — mass); (b) the returned ranks ARE a fixed point: applying
    one more exact power-iteration step in plain Python moves no node
    by more than a 6dp-visible amount."""
    from collections import defaultdict

    from kt_sql_hbase_ex_spark.functions.dedup import (
        PAGERANK_DAMPING,
        d10_pagerank_converged,
    )

    ranks = {r["doc_id"]: r["rank"] for r in d10_pagerank_converged(spark, sf_oracle).collect()}
    assert ranks, "empty similarity graph — fixture changed?"
    assert abs(sum(ranks.values()) - 1.0) < 1e-4  # 6dp rounding slack over |V|

    pairs = d03_minhash_lsh(spark, sf_oracle).select("doc_a", "doc_b").collect()
    out = defaultdict(list)
    for r in pairs:
        out[r["doc_a"]].append(r["doc_b"])
        out[r["doc_b"]].append(r["doc_a"])
    n = len(ranks)
    assert set(out) == set(ranks)
    inflow = defaultdict(float)
    for src, dsts in out.items():
        share = ranks[src] / len(dsts)
        for dst in dsts:
            inflow[dst] += share
    drift = max(
        abs((1 - PAGERANK_DAMPING) / n + PAGERANK_DAMPING * inflow[v] - ranks[v])
        for v in ranks
    )
    # one more exact step moves nothing visibly: genuinely converged,
    # not just iteration-budget-exhausted (6dp output rounding alone
    # contributes up to 5e-7 per node)
    assert drift < 5e-6, f"not at fixed point: max one-step drift {drift:.2e}"


def test_index_streaming_maintenance_matches_batch_build(spark, sf_small):
    """The postings index maintained by a REAL Structured Streaming
    drain (documents landed as 2 files, maxFilesPerTrigger=1 →
    2 microbatches, foreachBatch(upsert_index_batch)) must compact to
    the same term statistics as a one-shot batch build — the st07
    contract applied to the text index."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.functions.text_index import (
        ensure_text_index,
        read_corpus_stats,
        read_postings,
        upsert_index_batch,
    )
    from kt_sql_hbase_ex_spark.sources.catalog import load_table, table_path

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_idx_stream")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    idx = os.path.join(base, "idx")
    docs = load_table(spark, sf_small, "documents")
    docs.repartition(2).write.parquet(src)

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(
            lambda df, _id: upsert_index_batch(df, idx, assume_new=True)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    q.awaitTermination()
    q.stop()
    # >=2 microbatches really ran (one stats partial row each)
    from kt_sql_hbase_ex_spark.functions.text_index import layer_path

    assert spark.read.parquet(layer_path(idx, "stats")).count() >= 2

    terms = ("customer", "join", "hash")
    def term_stats(root):
        return {
            r["term"]: (r["df"], r["tf"])
            for r in read_postings(spark, root, terms)
            .groupBy("term")
            .agg(F.count_distinct("doc_id").alias("df"), F.count("*").alias("tf"))
            .collect()
        }

    batch_root = ensure_text_index(spark, sf_small)
    assert term_stats(idx) == term_stats(batch_root)
    s_stream = read_corpus_stats(spark, idx).first()
    s_batch = read_corpus_stats(spark, batch_root).first()
    assert s_stream["n_docs"] == s_batch["n_docs"]
    assert abs(s_stream["avgdl"] - s_batch["avgdl"]) < 1e-9
    shutil.rmtree(base, ignore_errors=True)


def test_index_compaction_preserves_results_and_shrinks_files(spark, sf_small):
    """compact_text_index: after several maintenance appends, compaction
    must (a) reduce the index's file count, (b) change NO query-visible
    row — term stats, doclen, and corpus stats identical before/after —
    and (c) fold the stats partials to one durable row."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.functions.text_index import (
        compact_text_index,
        read_corpus_stats,
        read_postings,
        upsert_index_batch,
    )
    from kt_sql_hbase_ex_spark.sources.catalog import load_table

    from kt_sql_hbase_ex_spark.functions.text_index import layer_path

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_idx_compact")
    shutil.rmtree(base, ignore_errors=True)
    docs = load_table(spark, sf_small, "documents")
    # 3 maintenance appends -> 3 files per touched prefix + 3 partials
    for k in range(3):
        upsert_index_batch(
            docs.filter(F.col("doc_id") % 3 == k), base, assume_new=True
        )

    def n_live_files():
        # count only the LIVE layers (pointer-resolved): superseded
        # version dirs linger until the next compaction's deferred GC
        return sum(
            len(glob.glob(os.path.join(layer_path(base, layer), "**", "*.parquet"),
                          recursive=True))
            for layer in ("postings", "doclen", "stats", "tombstones")
        )

    terms = ("customer", "join", "hash")

    def snapshot():
        stats = read_corpus_stats(spark, base).first()
        tf = {
            r["term"]: (r["df"], r["tf"])
            for r in read_postings(spark, base, terms)
            .groupBy("term")
            .agg(F.count_distinct("doc_id").alias("df"), F.count("*").alias("tf"))
            .collect()
        }
        return stats["n_docs"], round(stats["avgdl"], 9), tf

    before_files, before = n_live_files(), snapshot()
    compact_text_index(spark, base)
    after_files, after = n_live_files(), snapshot()

    assert after == before
    assert after_files < before_files, (before_files, after_files)
    assert spark.read.parquet(layer_path(base, "stats")).count() == 1
    shutil.rmtree(base, ignore_errors=True)


def test_index_tombstones_update_delete_and_compaction_parity(spark, sf_small):
    """The tombstone path end-to-end on a scratch index: (a) an update
    batch replaces a document's postings (no stale term survives), (b)
    a delete batch removes a document entirely, (c) corpus stats track
    the effective corpus through negative partials, (d) compaction
    folds the tombstones physically — identical query results, empty
    tombstone layer, fewer live files — and (e) a second compaction's
    deferred GC removes the superseded version dirs."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.functions.text_index import (
        compact_text_index,
        layer_path,
        read_corpus_stats,
        read_doclen,
        read_postings,
        upsert_index_batch,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_idx_tomb")
    shutil.rmtree(base, ignore_errors=True)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta delta"), (3, "alpha alpha")],
        "doc_id long, text string",
    )
    upsert_index_batch(docs, base, assume_new=True)  # initial corpus

    # update doc 1 (drops beta/gamma, adds epsilon), delete doc 3
    upd = spark.createDataFrame([(1, "alpha epsilon")], "doc_id long, text string")
    dels = spark.createDataFrame([(3,)], "doc_id long")
    upsert_index_batch(upd, base, deletes=dels)

    terms = ("alpha", "beta", "gamma", "delta", "epsilon")

    def term_docs():
        return {
            r["term"]: sorted(r["docs"])
            for r in read_postings(spark, base, terms)
            .groupBy("term")
            .agg(F.collect_set("doc_id").alias("docs"))
            .collect()
        }

    expect = {"alpha": [1], "beta": [2], "delta": [2], "epsilon": [1]}
    assert term_docs() == expect  # gamma gone, doc 3 gone, epsilon live
    assert {r["doc_id"]: r["dl"] for r in read_doclen(spark, base).collect()} == {
        1: 2, 2: 2,
    }
    stats = read_corpus_stats(spark, base).first()
    assert stats["n_docs"] == 2.0 and abs(stats["avgdl"] - 2.0) < 1e-12

    compact_text_index(spark, base)
    assert term_docs() == expect  # (d) identical after folding
    stats2 = read_corpus_stats(spark, base).first()
    assert stats2["n_docs"] == 2.0 and abs(stats2["avgdl"] - 2.0) < 1e-12
    assert not glob.glob(os.path.join(layer_path(base, "tombstones"), "*.parquet"))
    # the folded postings physically lack the superseded rows
    raw = spark.read.parquet(layer_path(base, "postings"))
    assert raw.filter(F.col("term").isin("gamma") | (F.col("doc_id") == 3)).count() == 0

    # (e) deferred GC: the pre-compaction default dirs die at a later
    # cycle once past the retention window (0 here = collect now)
    assert os.path.isdir(os.path.join(base, "postings"))
    compact_text_index(spark, base, gc_retention_sec=0.0)
    assert not os.path.isdir(os.path.join(base, "postings"))
    shutil.rmtree(base, ignore_errors=True)


def test_index_compaction_is_atomic_for_concurrent_readers(spark, sf_small):
    """The round-5 publish gap (two os.renames left a reader-visible
    window with NO stats dir) is closed by the pointer publish: a
    reader hammering corpus stats and doclen in a loop while TWO
    back-to-back compactions run must never error and must always see
    the same totals — the second compaction exercises the GC path,
    whose retention window (not a cycle count) is what guarantees a
    reader's resolved paths outlive its read."""
    import os
    import shutil
    import tempfile
    import threading

    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.functions.text_index import (
        compact_text_index,
        read_corpus_stats,
        read_doclen,
        upsert_index_batch,
    )
    from kt_sql_hbase_ex_spark.sources.catalog import load_table

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_idx_atomic")
    shutil.rmtree(base, ignore_errors=True)
    docs = load_table(spark, sf_small, "documents")
    for k in range(2):
        upsert_index_batch(docs.filter(F.col("doc_id") % 2 == k), base,
                           assume_new=True)
    want = read_corpus_stats(spark, base).first()

    errors: list[BaseException] = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                got = read_corpus_stats(spark, base).first()
                assert got["n_docs"] == want["n_docs"], got
                read_doclen(spark, base).count()
        except BaseException as e:  # surface to the main thread
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(2):  # two cycles: publish AND deferred GC race
            compact_text_index(spark, base)
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, errors
    shutil.rmtree(base, ignore_errors=True)


def test_index_random_mutation_sequences_match_rebuild(spark):
    """Property check on the tombstone path: for seeded random mutation
    histories (update / delete / insert batches over a small corpus),
    the MAINTAINED index must answer identically to an index rebuilt
    from the final corpus in one shot — term posting sets, doc lengths,
    and corpus stats — both before and after compaction. This is the
    generalized form of t15's single-batch scenario: order, batching,
    and repeated mutation of the same doc must all be invisible."""
    import os
    import random
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.functions.text_index import (
        compact_text_index,
        read_corpus_stats,
        read_doclen,
        read_postings,
        upsert_index_batch,
    )

    vocab = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta")

    def make_df(d: dict):
        return spark.createDataFrame(
            sorted(d.items()), "doc_id long, text string"
        )

    def snapshot(root):
        postings = {
            r["term"]: tuple(sorted(r["docs"]))
            for r in read_postings(spark, root, vocab)
            .groupBy("term")
            .agg(F.collect_list(F.struct("doc_id", "pos")).alias("ps"))
            .select("term", F.sort_array("ps").alias("docs"))
            .collect()
        }
        doclen = {r["doc_id"]: r["dl"] for r in read_doclen(spark, root).collect()}
        st = read_corpus_stats(spark, root).first()
        return postings, doclen, (st["n_docs"], st["avgdl"])

    for seed in (7, 23):
        rng = random.Random(seed)
        docs = {
            i: " ".join(rng.choices(vocab, k=rng.randint(1, 6)))
            for i in range(1, 13)
        }
        base = os.path.join(
            tempfile.gettempdir(), f"kt_sql_test_idx_prop_{seed}"
        )
        shutil.rmtree(base, ignore_errors=True)
        upsert_index_batch(make_df(docs), base, assume_new=True)
        next_id = 13
        for _ in range(4):
            ups: dict = {}
            dels: set = set()
            for i in list(docs):
                r = rng.random()
                if r < 0.2:
                    dels.add(i)
                    del docs[i]
                elif r < 0.45:
                    docs[i] = " ".join(rng.choices(vocab, k=rng.randint(1, 6)))
                    ups[i] = docs[i]
            for _ in range(rng.randint(0, 3)):
                docs[next_id] = " ".join(rng.choices(vocab, k=rng.randint(1, 6)))
                ups[next_id] = docs[next_id]
                next_id += 1
            if not ups and not dels:
                continue
            upsert_index_batch(
                make_df(ups) if ups else make_df({}).limit(0),
                base,
                deletes=spark.createDataFrame(
                    [(i,) for i in sorted(dels)], "doc_id long"
                )
                if dels
                else None,
            )

        rebuilt = f"{base}_rebuilt"
        shutil.rmtree(rebuilt, ignore_errors=True)
        upsert_index_batch(make_df(docs), rebuilt, assume_new=True)

        maintained, ref = snapshot(base), snapshot(rebuilt)
        assert maintained[0] == ref[0], f"seed {seed}: postings diverged"
        assert maintained[1] == ref[1], f"seed {seed}: doclen diverged"
        assert maintained[2][0] == ref[2][0], f"seed {seed}: n_docs"
        assert abs(maintained[2][1] - ref[2][1]) < 1e-9, f"seed {seed}: avgdl"

        compact_text_index(spark, base)
        assert snapshot(base) == maintained, f"seed {seed}: compaction changed rows"
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(rebuilt, ignore_errors=True)


def test_first_batch_never_writes_tombstones(spark):
    """A first batch into an empty layout has nothing to supersede, so
    even with the default assume_new=False it must write NO tombstones
    — otherwise every later read pays a corpus-sized mask join for
    nothing (round-6 review finding)."""
    import glob
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.text_index import (
        layer_path,
        upsert_index_batch,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_idx_firstbatch")
    shutil.rmtree(base, ignore_errors=True)
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    upsert_index_batch(docs, base)  # default flags — the docstring wiring
    assert not glob.glob(os.path.join(layer_path(base, "tombstones"), "*.parquet"))
    shutil.rmtree(base, ignore_errors=True)


def test_index_streaming_update_maintenance_matches_rebuild(spark, sf_small):
    """The tombstone path driven by a REAL Structured Streaming drain:
    microbatch 1 lands an initial corpus, microbatch 2 UPDATES some of
    those documents (same doc_ids, new text) and adds new ones, both
    applied through foreachBatch(upsert_index_batch) with the default
    update-capable flags. The maintained index must equal an index
    rebuilt from the last-write-wins final corpus — the streaming
    flavor of t15's batch scenario."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.functions.text_index import (
        read_corpus_stats,
        read_doclen,
        read_postings,
        upsert_index_batch,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_idx_stream_upd")
    shutil.rmtree(base, ignore_errors=True)
    src, idx = os.path.join(base, "src"), os.path.join(base, "idx")
    os.makedirs(src)

    chunk1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    chunk2 = spark.createDataFrame(  # updates 1+3, adds 4
        [(1, "epsilon zeta"), (3, "alpha"), (4, "zeta zeta")],
        "doc_id long, text string",
    )
    chunk1.coalesce(1).write.parquet(os.path.join(src, "c0"))
    chunk2.coalesce(1).write.parquet(os.path.join(src, "c1"))

    q = (
        spark.readStream.schema(chunk1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "c*"))
        .writeStream.foreachBatch(lambda df, _id: upsert_index_batch(df, idx))
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    q.awaitTermination()
    q.stop()

    final = {1: "epsilon zeta", 2: "beta gamma", 3: "alpha", 4: "zeta zeta"}
    rebuilt = os.path.join(base, "rebuilt")
    upsert_index_batch(
        spark.createDataFrame(sorted(final.items()), "doc_id long, text string"),
        rebuilt,
        assume_new=True,
    )

    terms = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta")

    def snap(root):
        tf = {
            r["term"]: tuple(sorted(r["docs"]))
            for r in read_postings(spark, root, terms)
            .groupBy("term")
            .agg(F.collect_list(F.struct("doc_id", "pos")).alias("ps"))
            .select("term", F.sort_array("ps").alias("docs"))
            .collect()
        }
        dl = {r["doc_id"]: r["dl"] for r in read_doclen(spark, root).collect()}
        st = read_corpus_stats(spark, root).first()
        return tf, dl, st["n_docs"], round(st["avgdl"], 9)

    assert snap(idx) == snap(rebuilt)
    shutil.rmtree(base, ignore_errors=True)


def test_index_same_batch_update_and_delete_delete_wins(spark):
    """Round-6 ADVICE: a doc_id present in BOTH batch_df and deletes in
    the same upsert must come out DELETED — without the anti-join the
    re-appended rows land at the tombstone's own generation and survive
    the mask, silently undoing the delete."""
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.text_index import (
        compact_text_index,
        read_corpus_stats,
        read_doclen,
        read_postings,
        upsert_index_batch,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_idx_updel")
    shutil.rmtree(base, ignore_errors=True)
    upsert_index_batch(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
        ),
        base,
        assume_new=True,
    )
    # doc 1 appears as an 'update' AND a delete in the same batch
    upsert_index_batch(
        spark.createDataFrame([(1, "delta delta")], "doc_id long, text string"),
        base,
        deletes=spark.createDataFrame([(1,)], "doc_id long"),
    )
    assert read_postings(spark, base, ("alpha", "delta")).count() == 0
    assert {r["doc_id"] for r in read_doclen(spark, base).collect()} == {2}
    st = read_corpus_stats(spark, base).first()
    assert (st["n_docs"], st["avgdl"]) == (1.0, 2.0)
    # compaction folds to the same truth
    compact_text_index(spark, base)
    assert read_postings(spark, base, ("alpha", "delta")).count() == 0
    assert read_corpus_stats(spark, base).first()["n_docs"] == 1.0
    shutil.rmtree(base, ignore_errors=True)


def test_index_delete_all_documents_yields_empty_index(spark):
    """Delete-only maintenance down to an EMPTY corpus: postings and
    doclen read empty, corpus stats report zero docs, and compaction
    folds the now-total tombstones without error — the boundary where
    negative partials exactly cancel the build."""
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.text_index import (
        compact_text_index,
        read_corpus_stats,
        read_doclen,
        read_postings,
        upsert_index_batch,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_idx_delall")
    shutil.rmtree(base, ignore_errors=True)
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta")], "doc_id long, text string"
    )
    upsert_index_batch(docs, base, assume_new=True)
    empty = spark.createDataFrame([], "doc_id long, text string")
    upsert_index_batch(
        empty, base, deletes=spark.createDataFrame([(1,), (2,)], "doc_id long")
    )

    assert read_postings(spark, base, ("alpha", "beta")).count() == 0
    assert read_doclen(spark, base).count() == 0
    st = read_corpus_stats(spark, base).first()
    assert st["n_docs"] == 0.0

    compact_text_index(spark, base)
    assert read_postings(spark, base, ("alpha", "beta")).count() == 0
    assert read_corpus_stats(spark, base).first()["n_docs"] == 0.0
    shutil.rmtree(base, ignore_errors=True)


def test_index_writer_lock_mutual_exclusion(spark):
    """Round-6 verdict task #2: writers claim the index MECHANICALLY —
    while one writer holds the lock, an upsert and a compaction both
    lose LOUDLY (IndexWriterConflict) and write nothing; after release
    they succeed. A threaded upsert-vs-compact race with retry loops
    converges to exactly the derived truth."""
    import os
    import shutil
    import tempfile
    import threading
    import time

    import pytest

    from kt_sql_hbase_ex_spark.functions.text_index import (
        IndexWriterConflict,
        _writer_lock,
        break_writer_lock,
        compact_text_index,
        read_corpus_stats,
        read_postings,
        upsert_index_batch,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_idx_lock")
    shutil.rmtree(base, ignore_errors=True)
    upsert_index_batch(
        spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string"),
        base,
        assume_new=True,
    )
    batch2 = spark.createDataFrame([(2, "beta gamma")], "doc_id long, text string")

    # a live writer holds the lock: both writer kinds refuse, no writes
    gens_before = sorted(os.listdir(os.path.join(base, "gens")))
    with _writer_lock(base):
        with pytest.raises(IndexWriterConflict, match="writer.lock"):
            upsert_index_batch(batch2, base, assume_new=True)
        with pytest.raises(IndexWriterConflict, match="writer.lock"):
            compact_text_index(spark, base)
    assert sorted(os.listdir(os.path.join(base, "gens"))) == gens_before

    # a crashed writer's lock is cleared explicitly
    open(os.path.join(base, "writer.lock"), "w").close()
    with pytest.raises(IndexWriterConflict):
        upsert_index_batch(batch2, base, assume_new=True)
    break_writer_lock(base)

    # threaded upsert vs compact, each retrying on conflict: both land
    errs = []

    def retrying(fn):
        for _ in range(200):
            try:
                return fn()
            except IndexWriterConflict:
                time.sleep(0.05)
        errs.append("never acquired the lock")

    t1 = threading.Thread(
        target=retrying, args=(lambda: upsert_index_batch(batch2, base, assume_new=True),)
    )
    t2 = threading.Thread(
        target=retrying, args=(lambda: compact_text_index(spark, base),)
    )
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    got = {
        (r["term"], r["doc_id"])
        for r in read_postings(spark, base, ("alpha", "beta", "gamma")).collect()
    }
    assert got == {("alpha", 1), ("beta", 1), ("beta", 2), ("gamma", 2)}
    assert read_corpus_stats(spark, base).first()["n_docs"] == 2.0
    shutil.rmtree(base, ignore_errors=True)


def test_prefix_compaction_folds_hot_prefixes_only(spark):
    """Round-6 verdict task #3: size-triggered per-prefix compaction —
    only prefixes past the file-count threshold fold (tombstones
    applied physically there), untouched prefixes carry their files
    byte-identically (hardlinks: same name AND inode) and keep relying
    on the KEPT tombstone layer; query-visible rows and corpus stats
    are unchanged."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.functions.text_index import (
        compact_text_index_prefixes,
        layer_path,
        read_corpus_stats,
        read_doclen,
        read_postings,
        upsert_index_batch,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_idx_pfxcomp")
    shutil.rmtree(base, ignore_errors=True)

    # gen 0: three prefixes (a/b/c); then 4 growth batches into 'a' only
    upsert_index_batch(
        spark.createDataFrame(
            [(1, "aa bb cc"), (2, "aa bb cc"), (3, "aa bb cc")],
            "doc_id long, text string",
        ),
        base,
        assume_new=True,
    )
    for i in range(4):
        upsert_index_batch(
            spark.createDataFrame([(10 + i, "aa")], "doc_id long, text string"),
            base,
            assume_new=True,
        )
    # one UPDATE: doc 1 loses bb/cc, gains zz → tombstone at gen 5
    upsert_index_batch(
        spark.createDataFrame([(1, "aa zz")], "doc_id long, text string"), base
    )

    def pfx_files(root):
        p = layer_path(root, "postings")
        return {
            os.path.basename(d): {
                (os.path.basename(f), os.stat(f).st_ino)
                for f in glob.glob(os.path.join(d, "*.parquet"))
            }
            for d in glob.glob(os.path.join(p, "term_pfx=*"))
        }

    def visible(root):
        rows = read_postings(spark, root, ("aa", "bb", "cc", "zz")).collect()
        tf = sorted((r["term"], r["doc_id"], r["pos"]) for r in rows)
        dl = sorted((r["doc_id"], r["dl"]) for r in read_doclen(spark, root).collect())
        st = read_corpus_stats(spark, root).first()
        return tf, dl, st["n_docs"], st["avgdl"]

    before_files = pfx_files(base)
    assert len(before_files["term_pfx=a"]) == 6  # gen0 + 4 growth + update
    before = visible(base)

    chosen = compact_text_index_prefixes(spark, base, max_files_per_prefix=3)
    assert chosen == ["a"]  # only the hot prefix crossed the threshold

    after_files = pfx_files(base)
    # untouched prefixes: same file names AND inodes (hardlink carry)
    for k in ("term_pfx=b", "term_pfx=c", "term_pfx=z"):
        assert after_files[k] == before_files[k]
    # the hot prefix folded to one file
    assert len(after_files["term_pfx=a"]) == 1
    # folded prefix holds only effective rows physically (no mask needed)
    raw_a = spark.read.parquet(layer_path(base, "postings")).filter(
        F.col("term_pfx") == "a"
    )
    assert raw_a.filter((F.col("doc_id") == 1) & (F.col("gen") == 0)).count() == 0
    # carried prefixes still hold superseded rows physically — the KEPT
    # tombstones mask them (doc 1's old bb/cc must stay invisible)
    raw_b = spark.read.parquet(layer_path(base, "postings")).filter(
        (F.col("term_pfx") == "b") & (F.col("doc_id") == 1)
    )
    assert raw_b.count() == 1  # physically present ...
    assert visible(base) == before  # ... but query-visible state unchanged

    # idempotent: nothing left over the threshold
    assert compact_text_index_prefixes(spark, base, max_files_per_prefix=3) == []
    shutil.rmtree(base, ignore_errors=True)


def test_incremental_neardup_equals_cross_split_batch_lsh(spark, sf_oracle):
    """d14 (batch probing the persisted band index) must find exactly
    the cross-split subset of d03's full-corpus near-dup pairs — an
    independent consistency proof on top of the oracle: the store-probe
    path can neither miss a cross pair nor invent one."""
    from kt_sql_hbase_ex_spark.functions.dedup import (
        INCREMENTAL_SPLIT_ID,
        d03_minhash_lsh,
        d14_incremental_neardup,
    )

    full = {
        (max(r.doc_a, r.doc_b), min(r.doc_a, r.doc_b)): r.jaccard
        for r in d03_minhash_lsh(spark, sf_oracle).collect()
        if (r.doc_a < INCREMENTAL_SPLIT_ID) != (r.doc_b < INCREMENTAL_SPLIT_ID)
    }
    got = {
        (r.doc_new, r.doc_old): r.jaccard
        for r in d14_incremental_neardup(spark, sf_oracle).collect()
    }
    assert got == full and got  # identical pairs AND values; non-empty


def test_band_store_append_equals_rebuild(spark):
    """The band store's growth path: admitting a batch via
    append_band_batch must make the store answer probes identically to
    a store rebuilt from the full admitted corpus — d08's standing-
    ingest contract for near-dups. Also: a held writer lock makes a
    concurrent admission lose loudly."""
    import os
    import shutil
    import tempfile

    import pytest

    from kt_sql_hbase_ex_spark.functions.dedup import (
        append_band_batch,
        probe_band_store,
        write_band_store,
    )
    from kt_sql_hbase_ex_spark.functions.text_index import (
        IndexWriterConflict,
        _writer_lock,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_bandstore")
    shutil.rmtree(base, ignore_errors=True)
    grown, rebuilt = os.path.join(base, "grown"), os.path.join(base, "rebuilt")

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    hist1 = [(1, "the quick brown fox jumps over the lazy dog tonight")]
    hist2 = [(2, "an entirely different document about spark and shuffles")]
    probe = mk(
        [
            (10, "the quick brown fox jumps over the lazy dog tonight"),
            (11, "an entirely different document about spark and shuffles"),
            (12, "no relation to anything admitted so far at all"),
        ]
    )

    write_band_store(spark, grown, mk(hist1))
    append_band_batch(spark, grown, mk(hist2))  # the admission path
    write_band_store(spark, rebuilt, mk(hist1 + hist2))

    snap = lambda root: {
        (r.doc_new, r.doc_old, r.jaccard)
        for r in probe_band_store(spark, root, probe).collect()
    }
    got = snap(grown)
    assert got == snap(rebuilt)
    assert {(n, o) for n, o, _ in got} == {(10, 1), (11, 2)}

    # concurrent admission loses loudly while a writer holds the lock
    with _writer_lock(grown):
        with pytest.raises(IndexWriterConflict):
            append_band_batch(spark, grown, mk([(3, "late batch of words")]))
    shutil.rmtree(base, ignore_errors=True)


def test_band_store_compaction_preserves_answers(spark):
    """compact_band_store must fold each bucket's per-batch file sets
    into one file behind one atomic layout.json swap WITHOUT changing
    any probe answer; the SELECTIVE form folds only buckets over the
    file threshold and carries cold buckets by hardlink; appends after
    compaction land in the live generation; the generation superseded
    by the previous compaction is GC'd by the next one (deferred,
    never same-swap)."""
    import glob
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.dedup import (
        _band_store_dirs,
        _band_store_layout,
        append_band_batch,
        compact_band_store,
        probe_band_store,
        write_band_store,
    )

    rcount = lambda d: len(
        glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_bandstore_compact")
    shutil.rmtree(base, ignore_errors=True)
    root = os.path.join(base, "store")

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    # doc_ids 1 and 9 share dkb=1 (doc_id % 8), so the shingles bucket
    # dkb=1 is GUARANTEED to hold two batch files pre-compaction — the
    # fold provably shrinks the store regardless of band-hash spread
    batches = [
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        [(2, "an entirely different document about spark and shuffles")],
        [(9, "a third admitted batch concerning parquet file layouts")],
    ]
    write_band_store(spark, root, mk(batches[0]))
    for b in batches[1:]:
        append_band_batch(spark, root, mk(b))

    probe = mk(
        [
            (10, "the quick brown fox jumps over the lazy dog tonight"),
            (11, "a third admitted batch concerning parquet file layouts"),
            (12, "no relation to anything admitted so far at all"),
        ]
    )
    snap = lambda: {
        (r.doc_new, r.doc_old, r.jaccard)
        for r in probe_band_store(spark, root, probe).collect()
    }
    before = snap()
    assert {(n, o) for n, o, _ in before} == {(10, 1), (11, 9)}

    bands0, shingles0 = _band_store_dirs(root)
    assert rcount(bands0) >= 3  # one file per touched bucket per batch
    assert rcount(os.path.join(shingles0, "dkb=1")) == 2  # docs 1 and 9

    rep = compact_band_store(spark, root, target_files=1)
    assert rep["gen"] == 1 and rep["files_after"] < rep["files_before"]
    bands1, shingles1 = _band_store_dirs(root)
    assert bands1 != bands0  # pointer moved
    # per-bucket fold: every bucket dir holds exactly one file
    for rel in (bands1, shingles1):
        bdirs = glob.glob(os.path.join(rel, "*=*"))
        assert bdirs
        for bd in bdirs:
            assert len(glob.glob(os.path.join(bd, "*.parquet"))) == 1, bd
    assert os.path.isdir(bands0)  # deferred GC: old gen survives one swap
    assert snap() == before  # identical answers through the new layout

    # appends land in the live generation and are probe-visible —
    # doc 17 shares dkb=1 with docs 1/9, so that bucket provably
    # accretes to 2 files while doc 2's dkb=2 stays untouched
    n_live = rcount(bands1)
    append_band_batch(spark, root, mk([(17, "a fourth batch admitted after compaction ran")]))
    assert rcount(bands1) > n_live
    assert len(glob.glob(os.path.join(shingles1, "dkb=1", "*.parquet"))) == 2
    probe2 = mk([(13, "a fourth batch admitted after compaction ran")])
    got2 = {
        (r.doc_new, r.doc_old)
        for r in probe_band_store(spark, root, probe2).collect()
    }
    assert got2 == {(13, 17)}

    # the NEXT compaction: the SELECTIVE per-bucket form — buckets the
    # post-compaction append touched (2 files) fold; untouched buckets
    # (1 file) carry by HARDLINK (same inode, no data movement); and it
    # GCs the generation superseded by the previous compaction
    linked = {
        p: os.stat(p).st_ino
        for p in glob.glob(os.path.join(shingles1, "dkb=2", "*.parquet"))
    }
    rep2 = compact_band_store(spark, root, target_files=1, only_buckets_over=1)
    assert rep2["gen"] == 2
    assert not os.path.isdir(bands0)
    assert os.path.isdir(bands1)  # retained until compaction 3
    bands2, shingles2 = _band_store_dirs(root)
    # dkb=2 was untouched by the doc-17 append → carried: same file
    # names, same inodes, in the NEW generation dir
    carried = {
        p: os.stat(p).st_ino
        for p in glob.glob(os.path.join(shingles2, "dkb=2", "*.parquet"))
    }
    assert {os.path.basename(p) for p in carried} == {
        os.path.basename(p) for p in linked
    }
    assert set(carried.values()) == set(linked.values())
    # dkb=1 accreted to 2 files (gen-1 fold + the doc-17 append) → 1
    assert len(glob.glob(os.path.join(shingles2, "dkb=1", "*.parquet"))) == 1
    assert snap() == before
    lay = _band_store_layout(root)
    assert lay["prev"] == [os.path.basename(bands1), os.path.basename(shingles1)]
    shutil.rmtree(base, ignore_errors=True)


def test_band_store_compaction_crash_retry(spark):
    """A compaction that dies AFTER writing its generation dirs but
    BEFORE the layout.json swap must not poison the store: the stale
    writer.lock is cleared by the operator (`break_writer_lock`, the
    documented recovery), the retry succeeds (uuid-tagged dir names
    never collide with the orphan), and the never-published orphan —
    which no reader can hold, it was never in any layout — is swept by
    the retry instead of leaking."""
    import glob
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.dedup import (
        _band_store_dirs,
        append_band_batch,
        compact_band_store,
        probe_band_store,
        write_band_store,
    )
    from kt_sql_hbase_ex_spark.functions.text_index import (
        IndexWriterConflict,
        break_writer_lock,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_bandstore_crash")
    shutil.rmtree(base, ignore_errors=True)
    root = os.path.join(base, "store")

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    write_band_store(spark, root, mk([(1, "the quick brown fox jumps over the lazy dog tonight")]))
    append_band_batch(spark, root, mk([(2, "an entirely different document about spark and shuffles")]))

    probe = mk([(10, "the quick brown fox jumps over the lazy dog tonight")])
    snap = lambda: {
        (r.doc_new, r.doc_old, r.jaccard)
        for r in probe_band_store(spark, root, probe).collect()
    }
    before = snap()
    assert {(n, o) for n, o, _ in before} == {(10, 1)}

    # simulate the crash: orphan generation dirs written, pointer NOT
    # swapped, a torn layout staging file and writer.lock left behind
    orphan_b = os.path.join(root, "bands_g1.deadbeef")
    orphan_s = os.path.join(root, "shingles_g1.deadbeef")
    for d in (orphan_b, orphan_s):
        os.makedirs(d)
        with open(os.path.join(d, "part-junk.parquet"), "wb") as f:
            f.write(b"torn write")
    torn_staging = os.path.join(root, "_tmp.layout.json.deadbeef")
    with open(torn_staging, "w") as f:
        f.write("{tor")
    with open(os.path.join(root, "writer.lock"), "w") as f:
        f.write("99999")

    # a retry before recovery loses loudly on the stale lock
    import pytest

    with pytest.raises(IndexWriterConflict):
        compact_band_store(spark, root, target_files=1)

    break_writer_lock(root)  # the documented operator recovery
    rep = compact_band_store(spark, root, target_files=1)
    assert rep["gen"] == 1
    assert not os.path.isdir(orphan_b) and not os.path.isdir(orphan_s)
    assert not os.path.exists(torn_staging)  # torn publish swept too
    bands1, _ = _band_store_dirs(root)
    assert os.path.basename(bands1).startswith("bands_g1.")
    for bd in glob.glob(os.path.join(bands1, "*=*")):
        assert len(glob.glob(os.path.join(bd, "*.parquet"))) == 1, bd
    assert snap() == before  # the torn orphan never reached any reader
    shutil.rmtree(base, ignore_errors=True)


def test_ivf_store_append_equals_rebuild(spark):
    """The IVF store's growth path (the vector twin of
    test_band_store_append_equals_rebuild): admitting a batch via
    append_ivf_batch must make the store answer probes identically to a
    store rebuilt from the full corpus — centroids frozen on the base
    in BOTH stores, so the only difference is the layout history. Also:
    the append never touches existing cell files (write ∝ batch), and a
    held writer lock makes a concurrent admission lose loudly."""
    import glob
    import os
    import shutil
    import tempfile

    import pytest

    from kt_sql_hbase_ex_spark.functions.similarity import (
        append_ivf_batch,
        probe_ivf_store,
        write_ivf_store,
    )
    from kt_sql_hbase_ex_spark.functions.text_index import (
        IndexWriterConflict,
        _writer_lock,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_ivfstore")
    shutil.rmtree(base, ignore_errors=True)
    grown, rebuilt = os.path.join(base, "grown"), os.path.join(base, "rebuilt")

    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    hist1 = [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])]
    growth = [(4, [0.9, 0.1, 0.0]), (5, [0.0, 0.2, 0.9])]

    write_ivf_store(spark, grown, mk(hist1), n_cells=3)
    cells = os.path.join(grown, "cells")
    before_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(cells, "**", "*.parquet"), recursive=True)
    }
    append_ivf_batch(spark, grown, mk(growth))
    after_files = set(
        glob.glob(os.path.join(cells, "**", "*.parquet"), recursive=True)
    )
    # write ∝ batch: every pre-append file survives byte-untouched
    assert set(before_files) < after_files
    for p, mt in before_files.items():
        assert os.path.getmtime(p) == mt

    # rebuilt-from-scratch twin: same frozen centroids (hist1 holds the
    # 3 lowest vec_ids, so n_cells=3 freezes the same quantizer)
    write_ivf_store(spark, rebuilt, mk(hist1 + growth), n_cells=3)

    probe = mk(
        [(10, [0.8, 0.2, 0.0]), (11, [0.1, 0.1, 0.9]), (12, [0.5, 0.5, 0.5])]
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    snap = lambda root: {
        (r.query_id, r.neighbor_id, r.cosine, r.rnk)
        for r in probe_ivf_store(spark, root, probe).collect()
    }
    got = snap(grown)
    assert got == snap(rebuilt)
    # appended vectors are probe-visible through the grown layout
    assert {n for _, n, _, _ in got} >= {4, 5}

    # concurrent admission loses loudly while a writer holds the lock
    with _writer_lock(grown):
        with pytest.raises(IndexWriterConflict):
            append_ivf_batch(spark, grown, mk([(6, [1.0, 1.0, 0.0])]))
    shutil.rmtree(base, ignore_errors=True)


def test_ivf_store_compaction_preserves_answers(spark):
    """compact_ivf_store must fold each cell's accumulated batch files
    into ONE file behind an atomic layout.json swap WITHOUT changing
    any probe answer; the cell partitioning (what probes prune on)
    survives the fold; appends after compaction land in the live
    generation; the generation superseded by the previous compaction is
    GC'd by the next one (deferred, never same-swap)."""
    import glob
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.similarity import (
        _ivf_cells_dir,
        _ivf_store_layout,
        append_ivf_batch,
        compact_ivf_store,
        maybe_compact_ivf_store,
        probe_ivf_store,
        write_ivf_store,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_ivf_compact")
    shutil.rmtree(base, ignore_errors=True)
    root = os.path.join(base, "store")

    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    write_ivf_store(
        spark,
        root,
        mk([(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])]),
        n_cells=3,
    )
    append_ivf_batch(spark, root, mk([(4, [0.9, 0.1, 0.0])]))
    append_ivf_batch(spark, root, mk([(5, [0.0, 0.2, 0.9])]))

    probe = mk(
        [(10, [0.8, 0.2, 0.0]), (11, [0.1, 0.1, 0.9]), (12, [0.5, 0.5, 0.5])]
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    snap = lambda: {
        (r.query_id, r.neighbor_id, r.cosine, r.rnk)
        for r in probe_ivf_store(spark, root, probe).collect()
    }
    before = snap()
    assert {n for _, n, _, _ in before} >= {4, 5}

    cells0 = _ivf_cells_dir(root)
    files = lambda d: glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    assert len(files(cells0)) > 3  # one file set per admitted batch

    # under-threshold trigger is a no-op that doesn't even take the lock
    assert maybe_compact_ivf_store(spark, root, max_files=10_000) is None
    assert _ivf_store_layout(root)["gen"] == 0

    rep = compact_ivf_store(spark, root)
    assert rep["gen"] == 1 and rep["files_after"] < rep["files_before"]
    cells1 = _ivf_cells_dir(root)
    assert cells1 != cells0  # pointer moved
    # exactly one file per non-empty cell, partition layout preserved
    parts = glob.glob(os.path.join(cells1, "cell=*"))
    assert parts and all(
        len(glob.glob(os.path.join(p, "*.parquet"))) == 1 for p in parts
    )
    assert os.path.isdir(cells0)  # deferred GC: old gen survives one swap
    assert snap() == before  # identical answers through the new layout

    # appends land in the live generation and are probe-visible
    append_ivf_batch(spark, root, mk([(6, [0.7, 0.7, 0.0])]))
    assert len(files(cells1)) > len(parts)
    got2 = {
        (r.query_id, r.neighbor_id)
        for r in probe_ivf_store(
            spark,
            root,
            mk([(13, [0.7, 0.7, 0.05])]).select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
            ),
        ).collect()
    }
    assert (13, 6) in got2
    after_grow = snap()  # the layout invariant to hold through fold 2

    # the NEXT compaction: the SELECTIVE per-cell form — the cell the
    # post-compaction append touched (2 files) folds to one, untouched
    # cells (1 file) carry by HARDLINK (same inode, no data movement);
    # and it GCs the generation superseded by the previous compaction.
    # Vector 6 = [0.7, 0.7, 0.0] lands in cell 1 (cosine ties at 6dp
    # between centroids 1 and 2 break to the lower cid), so cell=1
    # provably accretes while cell=2 and cell=3 stay untouched
    assert len(glob.glob(os.path.join(cells1, "cell=1", "*.parquet"))) == 2
    linked = {
        p: os.stat(p).st_ino
        for p in glob.glob(os.path.join(cells1, "cell=2", "*.parquet"))
    }
    rep2 = compact_ivf_store(spark, root, only_cells_over=1)
    assert rep2["gen"] == 2
    assert not os.path.isdir(cells0)
    assert os.path.isdir(cells1)  # retained until compaction 3
    cells2 = _ivf_cells_dir(root)
    carried = {
        p: os.stat(p).st_ino
        for p in glob.glob(os.path.join(cells2, "cell=2", "*.parquet"))
    }
    assert {os.path.basename(p) for p in carried} == {
        os.path.basename(p) for p in linked
    }
    assert set(carried.values()) == set(linked.values())
    assert len(glob.glob(os.path.join(cells2, "cell=1", "*.parquet"))) == 1
    assert snap() == after_grow  # mixed fold+carry generation: same answers
    shutil.rmtree(base, ignore_errors=True)


def test_ivf_store_compaction_crash_retry(spark):
    """An IVF compaction that dies AFTER writing its generation dir but
    BEFORE the layout.json swap must not poison the store: the stale
    writer.lock is cleared by the operator (break_writer_lock), the
    retry succeeds (uuid-tagged dir names never collide), and the
    never-published orphan is swept by the retry instead of leaking."""
    import glob
    import os
    import shutil
    import tempfile

    import pytest

    from kt_sql_hbase_ex_spark.functions.similarity import (
        _ivf_cells_dir,
        compact_ivf_store,
        probe_ivf_store,
        write_ivf_store,
    )
    from kt_sql_hbase_ex_spark.functions.text_index import (
        IndexWriterConflict,
        break_writer_lock,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_ivf_crash")
    shutil.rmtree(base, ignore_errors=True)
    root = os.path.join(base, "store")

    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    write_ivf_store(
        spark,
        root,
        mk([(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])]),
        n_cells=2,
    )
    probe = mk([(10, [0.9, 0.1, 0.0])]).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    snap = lambda: {
        (r.query_id, r.neighbor_id, r.cosine, r.rnk)
        for r in probe_ivf_store(spark, root, probe).collect()
    }
    before = snap()

    # simulate the crash: orphan generation dir + stale writer lock
    orphan = os.path.join(root, "cells_g1.deadbeef")
    shutil.copytree(_ivf_cells_dir(root), orphan)
    with open(os.path.join(root, "writer.lock"), "w") as f:
        f.write("pid=0")

    with pytest.raises(IndexWriterConflict):
        compact_ivf_store(spark, root)

    break_writer_lock(root)  # the documented operator recovery
    rep = compact_ivf_store(spark, root)
    assert rep["gen"] == 1
    assert not os.path.isdir(orphan)  # swept, not leaked
    assert os.path.basename(_ivf_cells_dir(root)).startswith("cells_g1.")
    assert snap() == before  # the torn orphan never reached any reader
    shutil.rmtree(base, ignore_errors=True)


def test_flat_legacy_band_store_rejected(spark, tmp_path):
    """A band store written by the pre-bucketing code (flat *.parquet
    directly in bands/) must be rejected LOUDLY by both the probe and
    the compactor — a silent per-bucket fold of a flat store would
    publish an empty generation, and the next deferred GC would destroy
    the only copy of the data."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from kt_sql_hbase_ex_spark.functions.dedup import (
        compact_band_store,
        probe_band_store,
    )

    root = str(tmp_path / "legacy_store")
    for rel in ("bands", "shingles"):
        os.makedirs(os.path.join(root, rel))
    pq.write_table(
        pa.table({"doc_id": pa.array([1], pa.int64()), "band_key": ["0:1:2:3"]}),
        os.path.join(root, "bands", "part-0.parquet"),
    )
    pq.write_table(
        pa.table({"doc_id": pa.array([1], pa.int64()), "sh": [[1, 2]]}),
        os.path.join(root, "shingles", "part-0.parquet"),
    )
    probe = spark.createDataFrame(
        [(10, "the quick brown fox jumps tonight")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="un-bucketed"):
        probe_band_store(spark, root, probe)
    with pytest.raises(ValueError, match="un-bucketed"):
        compact_band_store(spark, root)
    # the failed compaction must not have swapped the pointer
    assert not os.path.exists(os.path.join(root, "layout.json"))


def test_compaction_engine_resolves_layout_under_lock(spark):
    """The shared generation-fold engine must invoke its layout reader
    UNDER the writer lock (a pre-lock snapshot lets a compaction that
    queued behind another writer sweep the generation that writer just
    published as an 'orphan' — silent data loss). Pinned by a reader
    that asserts the lock file exists when it runs."""
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.dedup import (
        _band_store_layout,
        probe_band_store,
        write_band_store,
    )
    from kt_sql_hbase_ex_spark.functions.text_index import (
        compact_partitioned_store,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_lockread")
    shutil.rmtree(base, ignore_errors=True)
    root = os.path.join(base, "store")
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    write_band_store(spark, root, docs)

    seen = {"under_lock": None}

    def reader():
        seen["under_lock"] = os.path.exists(os.path.join(root, "writer.lock"))
        return _band_store_layout(root)

    rep = compact_partitioned_store(
        spark, root, reader, [("bands", "bands"), ("shingles", "shingles")]
    )
    assert seen["under_lock"] is True
    assert rep["gen"] == 1
    # the folded store still answers
    probe = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    got = {(r.doc_new, r.doc_old) for r in probe_band_store(spark, root, probe).collect()}
    assert got == {(10, 1)}
    shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# round-7 declarative-surface additions: lateral / recursive / pivot /
# temperature mixture — semantic + plan shape beyond the oracle parity
# ---------------------------------------------------------------------------


def test_lateral_topn_decorrelates(spark, sf_small):
    """j13's LATERAL subquery must decorrelate to a ranked-window join —
    never a per-outer-row rescan (nested loop over the full inner)."""
    from kt_sql_hbase_ex_spark.operators.joins import j13_lateral_topn_per_group
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    df = j13_lateral_topn_per_group(spark, sf_small)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    # the decorrelated form ranks customer inside its nationkey groups
    assert "Window" in plan or "WindowGroupLimit" in plan, plan
    rows = df.collect()
    per_nation = {}
    for r in rows:
        per_nation.setdefault(r["n_name"], []).append(r["c_acctbal"])
    assert per_nation and all(len(v) <= 2 for v in per_nation.values())
    # within each nation the two rows are the true maxima: descending
    assert all(v == sorted(v, reverse=True) for v in per_nation.values())


def test_khop_reachability_semantics(spark, sf_small):
    """d16: hop-0 rows are exactly the node set, hop-1 rows are exactly
    the symmetric edge set, and no row exceeds the depth cap — the
    recursion's first two levels checked against their closed forms."""
    from kt_sql_hbase_ex_spark.functions.dedup import (
        REACH_HOPS,
        d16_khop_reachability,
        read_verified_pairs,
    )

    rows = d16_khop_reachability(spark, sf_small).collect()
    assert rows, "empty reachability — pair store produced no edges?"
    assert all(0 <= r["hops"] <= REACH_HOPS for r in rows)
    pairs = read_verified_pairs(spark, sf_small).collect()
    edges = {(r["doc_a"], r["doc_b"]) for r in pairs} | {
        (r["doc_b"], r["doc_a"]) for r in pairs
    }
    nodes = {a for a, _ in edges}
    assert {(r["seed"], r["node"]) for r in rows if r["hops"] == 0} == {
        (n, n) for n in nodes
    }
    # shortest-hop MIN: a direct edge can never be reported deeper
    assert {(r["seed"], r["node"]) for r in rows if r["hops"] == 1} == edges


def test_native_pivot_matches_manual_conditional_agg(spark, sf_small):
    """a19's PIVOT cells equal the hand-built conditional aggregation
    over the same table (the a09 idiom) — same groups, same exact-money
    cents."""
    from kt_sql_hbase_ex_spark.functions.money import exact_sum
    from kt_sql_hbase_ex_spark.operators.aggregates import a19_native_pivot

    got = {
        r["o_orderpriority"]: (r["open_cnt"], r["open_rev"], r["partial_rev"])
        for r in a19_native_pivot(spark, sf_small).collect()
    }
    o = load_table(spark, sf_small, "orders")
    manual = (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("oc"),
            exact_sum(
                F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))
            ).alias("orev"),
            exact_sum(
                F.when(F.col("o_orderstatus") == "P", F.col("o_totalprice"))
            ).alias("prev"),
        )
        .collect()
    )
    assert got == {r["o_orderpriority"]: (r["oc"], r["orev"], r["prev"]) for r in manual}


def test_temperature_mixture_allocation_invariants(spark, sf_small):
    """tr14: the realized sample hits the budget exactly (largest
    remainder: Σ quotas = budget when no epoch cap binds — and the cap
    NOT binding is asserted, keeping the check non-vacuous), every
    domain's selected count equals its quota, and flattening holds:
    every domain's sampling rate is within one allocation unit of
    monotone-decreasing in domain size (τ<1 upweights small domains)."""
    from kt_sql_hbase_ex_spark.functions.pipeline import (
        MIX_BUDGET_DEN,
        MIX_BUDGET_NUM,
        tr14_temperature_mixture,
    )

    rows = tr14_temperature_mixture(spark, sf_small).collect()
    n_by_source = {
        r["source"]: r["n"]
        for r in load_table(spark, sf_small, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = sum(n_by_source.values())
    budget = (MIX_BUDGET_NUM * total) // MIX_BUDGET_DEN
    assert len(rows) == budget
    quota = {}
    picked = {}
    for r in rows:
        quota[r["source"]] = r["quota"]
        picked[r["source"]] = picked.get(r["source"], 0) + 1
    assert picked == quota
    # the epoch cap must not be what made the count work out
    assert all(quota[s] < n_by_source[s] for s in quota)
    # flattening: smaller domain => weakly higher sampling rate, modulo
    # the ±1 largest-remainder unit
    doms = sorted(quota, key=lambda s: n_by_source[s])
    for a, b in zip(doms, doms[1:]):
        assert quota[a] * n_by_source[b] >= (quota[b] - 1) * n_by_source[a], (
            a, b, quota[a], quota[b], n_by_source[a], n_by_source[b],
        )


def test_ivf_retrain_then_append_equals_rebuild(spark):
    """retrain_ivf_store (the drift remedy): after the one-step Lloyd
    re-clustering publishes behind the generation pointer, (1) the
    store's quantizer really moved (layout carries a centroids dir and
    the centroid vectors are the fixed-point member means), (2) probes
    serve the re-clustered answer — identical to a store built from
    scratch around the SAME retrained centroids, (3) appends admit
    against the RETRAINED quantizer, so append-after-retrain ≡
    rebuild-with-retrained-centroids, and (4) a second retrain GC's the
    generation two swaps old (deferred retention) while the probe keeps
    answering."""
    import glob
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.similarity import (
        _assign_cells,
        _ivf_cells_dir,
        _ivf_centroids_dir,
        _ivf_store_layout,
        append_ivf_batch,
        probe_ivf_store,
        retrain_ivf_store,
        write_ivf_store,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_ivfretrain")
    shutil.rmtree(base, ignore_errors=True)
    store, twin = os.path.join(base, "store"), os.path.join(base, "twin")

    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    # seeds 1..2 define the frozen quantizer; 3..6 pull the means away
    hist = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.8, 0.6, 0.0]),
        (4, [0.9, 0.45, 0.0]),
        (5, [0.1, 0.9, 0.4]),
        (6, [0.0, 0.8, 0.6]),
    ]
    write_ivf_store(spark, store, mk(hist), n_cells=2)
    old_cells = _ivf_cells_dir(store)
    stats = retrain_ivf_store(spark, store)
    assert stats["gen"] == 1 and stats["n_cells"] == 2
    layout = _ivf_store_layout(store)
    assert layout["centroids"].startswith("centroids_g1.")
    assert layout["cells"].startswith("cells_g1.")
    # the quantizer really moved: retrained centroids ≠ the seeds
    cent = {
        r.cid: [round(x, 9) for x in r.cv]
        for r in spark.read.parquet(_ivf_centroids_dir(store)).collect()
    }
    assert cent[1] != [1.0, 0.0, 0.0] and cent[2] != [0.0, 1.0, 0.0]

    # probes serve the re-clustered answer: identical to a from-scratch
    # twin assigned around the SAME retrained centroids
    os.makedirs(twin)
    spark.read.parquet(_ivf_centroids_dir(store)).coalesce(1).write.parquet(
        os.path.join(twin, "centroids")
    )
    cent_df = spark.read.parquet(os.path.join(twin, "centroids"))
    _assign_cells(mk(hist), cent_df).repartition("cell").write.partitionBy(
        "cell"
    ).parquet(os.path.join(twin, "cells"))
    probe = mk(
        [(10, [0.9, 0.3, 0.0]), (11, [0.0, 0.7, 0.7])]
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    snap = lambda root: {
        (r.query_id, r.neighbor_id, r.cosine, r.rnk)
        for r in probe_ivf_store(spark, root, probe).collect()
    }
    assert snap(store) == snap(twin)

    # append admits against the RETRAINED quantizer
    growth = [(7, [0.95, 0.4, 0.0]), (8, [0.05, 0.85, 0.5])]
    append_ivf_batch(spark, store, mk(growth))
    _assign_cells(mk(growth), cent_df).repartition("cell").write.mode(
        "append"
    ).partitionBy("cell").parquet(os.path.join(twin, "cells"))
    got = snap(store)
    assert got == snap(twin)
    assert {n for _, n, _, _ in got} >= {7, 8}

    # deferred GC: a second retrain removes the pre-retrain generation
    # (two swaps old) and the store keeps answering
    retrain_ivf_store(spark, store)
    assert not os.path.exists(old_cells)
    assert _ivf_store_layout(store)["gen"] == 2
    assert len(snap(store)) > 0
    shutil.rmtree(base, ignore_errors=True)


def test_sim12_recall_improves_on_drifted_store(spark, sf_small):
    """The round-9 retrain acceptance property: on the deliberately
    drifted fixture (quantizer seeded from one tight neighborhood),
    iterated fixed-point retrain must IMPROVE probe recall vs the exact
    brute-force top-k — the operational point of the remedy. Exact
    integer hit counts, deterministic fixture → a stable pin, not a
    flaky statistical bound."""
    from kt_sql_hbase_ex_spark.functions.similarity import (
        sim12_retrain_recall_readout,
    )

    rows = {
        r["phase"]: r
        for r in sim12_retrain_recall_readout(spark, sf_small).collect()
    }
    assert set(rows) == {"frozen", "retrained"}
    f, r = rows["frozen"], rows["retrained"]
    assert f["n_queries"] == r["n_queries"] > 0
    assert f["possible"] == r["possible"] == f["n_queries"] * 10  # TOP_K
    assert r["hits"] > f["hits"], (f["hits"], r["hits"])


def test_retrain_converges_to_fixed_point(spark, sf_small, tmp_path):
    """retrain_ivf_store_converged stops at exact stability: the
    fixed-point grid makes bit-identical centroids attainable, and one
    FURTHER step after convergence is the identity (assignment stable →
    same integer sums → same floor-quantized centroids)."""
    import os

    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.functions.similarity import (
        SIM08_MOD,
        SIM08_RES,
        _drifted_seeds,
        _ivf_centroids_dir,
        retrain_ivf_store,
        retrain_ivf_store_converged,
        write_ivf_store,
    )
    from kt_sql_hbase_ex_spark.sources.catalog import load_table

    root = os.path.join(str(tmp_path), "conv_store")
    e = load_table(spark, sf_small, "embeddings")
    hist = e.filter(F.col("vec_id") % SIM08_MOD != SIM08_RES)
    write_ivf_store(spark, root, hist, seeds=_drifted_seeds(hist))

    out = retrain_ivf_store_converged(spark, root, max_steps=16)
    assert out["converged"] is True
    assert 1 <= out["steps_run"] <= 16

    def snap():
        return [
            (r["cid"], tuple(r["cv"]))
            for r in spark.read.parquet(_ivf_centroids_dir(root))
            .orderBy("cid")
            .collect()
        ]

    before = snap()
    retrain_ivf_store(spark, root)  # one more step: must be identity
    assert snap() == before


# --- the persisted PQ store (round-11: sim16 lifecycle) ----------------


def _pq_vecs(spark, ids):
    """Deterministic 64-dim vectors (M_SUB*D_SUB) for store tests."""
    import math

    rows = [
        (i, [math.sin(0.1 * (i + 1) * (d + 1)) for d in range(64)])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _pq_probe_snap(spark, root, queries):
    from kt_sql_hbase_ex_spark.functions.similarity import probe_pq_store

    corpus = queries[1]
    return {
        (r.query_id, r.neighbor_id, r.dist_micro, r.rnk)
        for r in probe_pq_store(spark, root, queries[0], corpus).collect()
    }


def test_pq_store_append_equals_rebuild(spark):
    """The PQ store's growth path: books train once on the base and
    FREEZE; appending a batch encodes it against the frozen books, so
    a store grown in one append must answer probes identically to the
    same base store grown in two — and write ∝ batch (no existing
    code file is touched). A held writer lock makes a concurrent
    admission lose loudly."""
    import glob
    import os
    import shutil
    import tempfile

    import pytest

    from kt_sql_hbase_ex_spark.functions.similarity import (
        append_pq_batch,
        write_pq_store,
    )
    from kt_sql_hbase_ex_spark.functions.text_index import (
        IndexWriterConflict,
        _writer_lock,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_pqstore_grow")
    shutil.rmtree(base, ignore_errors=True)
    one, two = os.path.join(base, "one"), os.path.join(base, "two")

    hist = _pq_vecs(spark, range(40))
    batch_a = _pq_vecs(spark, range(100, 106))
    batch_b = _pq_vecs(spark, range(106, 112))
    both = _pq_vecs(spark, range(100, 112))

    write_pq_store(spark, one, hist, train=True)
    codes_dir = os.path.join(one, "codes")
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(
            os.path.join(codes_dir, "**", "*.parquet"), recursive=True
        )
    }
    append_pq_batch(spark, one, both)
    after = set(
        glob.glob(os.path.join(codes_dir, "**", "*.parquet"), recursive=True)
    )
    assert set(before) < after
    for p, mt in before.items():
        assert os.path.getmtime(p) == mt  # write ∝ batch

    write_pq_store(spark, two, hist, train=True)
    append_pq_batch(spark, two, batch_a)
    append_pq_batch(spark, two, batch_b)

    queries = (
        _pq_vecs(spark, [500, 501]).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        ),
        _pq_vecs(spark, list(range(40)) + list(range(100, 112))),
    )
    got = _pq_probe_snap(spark, one, queries)
    assert got == _pq_probe_snap(spark, two, queries)
    assert {n for _, n, _, _ in got} & set(range(100, 112))  # grown visible

    with _writer_lock(one):
        with pytest.raises(IndexWriterConflict):
            append_pq_batch(spark, one, _pq_vecs(spark, [200]))
    shutil.rmtree(base, ignore_errors=True)


def test_pq_store_compaction_preserves_answers(spark):
    """compact_pq_store folds the accumulated per-batch code files to
    one per ``m=`` partition behind the atomic layout swap without
    changing a single probe answer; appends after compaction land in
    the live generation; the generation superseded by the PREVIOUS
    compaction is GC'd by the next one (deferred GC)."""
    import glob
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.similarity import (
        M_SUB,
        _pq_codes_dir,
        _pq_store_layout,
        append_pq_batch,
        compact_pq_store,
        write_pq_store,
    )

    root = os.path.join(tempfile.gettempdir(), "kt_sql_test_pqstore_fold")
    shutil.rmtree(root, ignore_errors=True)

    write_pq_store(spark, root, _pq_vecs(spark, range(40)), train=True)
    for lo in (100, 110, 120):
        append_pq_batch(spark, root, _pq_vecs(spark, range(lo, lo + 5)))
    queries = (
        _pq_vecs(spark, [500, 501]).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        ),
        _pq_vecs(spark, list(range(40)) + list(range(100, 125))),
    )
    before = _pq_probe_snap(spark, root, queries)

    st = compact_pq_store(spark, root)
    assert st["files_after"] < st["files_before"]
    live = _pq_codes_dir(root)
    for udir in glob.glob(os.path.join(live, "m=*")):
        assert len(glob.glob(os.path.join(udir, "*.parquet"))) == 1
    assert _pq_probe_snap(spark, root, queries) == before

    # appends land in the live (rotated) generation; answers grow
    append_pq_batch(spark, root, _pq_vecs(spark, range(130, 135)))
    prev_dirs = _pq_store_layout(root)["prev"]
    compact_pq_store(spark, root)
    for d in prev_dirs:  # deferred GC: two swaps old is gone
        assert not os.path.exists(os.path.join(root, d))
    assert _pq_probe_snap(spark, root, queries) != before
    shutil.rmtree(root, ignore_errors=True)


def test_pq_store_retrain_rotates_generation(spark):
    """retrain_pq_store seeded from the live books ≡ a from-scratch
    trained build over the same corpus (write_pq_store's train path
    seeds from the same lowest-vec_id rule), published as a fresh
    books+codes generation; the superseded generation is retained
    until the next rotation."""
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.similarity import (
        _pq_store_layout,
        compact_pq_store,
        retrain_pq_store,
        write_pq_store,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_pqstore_retrain")
    shutil.rmtree(base, ignore_errors=True)
    seeded, trained = os.path.join(base, "seeded"), os.path.join(base, "trained")

    corpus = _pq_vecs(spark, range(40))
    write_pq_store(spark, seeded, corpus, train=False)
    write_pq_store(spark, trained, corpus, train=True)

    st = retrain_pq_store(spark, seeded, corpus)
    assert st["gen"] == 1 and st["trained_rows"] == 40
    layout = _pq_store_layout(seeded)
    assert layout["gen"] == 1 and layout["trained_rows"] == 40
    for d in layout["prev"]:  # deferred GC: superseded gen retained
        assert os.path.exists(os.path.join(seeded, d))

    queries = (
        _pq_vecs(spark, [500, 501]).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        ),
        corpus,
    )
    assert _pq_probe_snap(spark, seeded, queries) == _pq_probe_snap(
        spark, trained, queries
    )
    # the next rotation GC's the pre-retrain generation
    compact_pq_store(spark, seeded)
    for d in layout["prev"]:
        assert not os.path.exists(os.path.join(seeded, d))
    shutil.rmtree(base, ignore_errors=True)


def test_pq_store_retrain_trigger(spark):
    """maybe_retrain_pq_store: a driver-side parquet-footer count —
    under growth_factor x trained_rows it does nothing (not even the
    lock); at or past it, the books rotate and trained_rows resets to
    the live corpus size."""
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.similarity import (
        _pq_store_layout,
        append_pq_batch,
        maybe_retrain_pq_store,
        write_pq_store,
    )
    from kt_sql_hbase_ex_spark.functions.text_index import _writer_lock

    root = os.path.join(tempfile.gettempdir(), "kt_sql_test_pqstore_trig")
    shutil.rmtree(root, ignore_errors=True)

    write_pq_store(spark, root, _pq_vecs(spark, range(40)), train=True)
    corpus = _pq_vecs(spark, list(range(40)) + list(range(100, 150)))
    # under threshold: no-op even while a writer holds the lock (the
    # trigger path never takes it)
    with _writer_lock(root):
        assert maybe_retrain_pq_store(spark, root, corpus) is None
    append_pq_batch(spark, root, _pq_vecs(spark, range(100, 150)))
    st = maybe_retrain_pq_store(spark, root, corpus)
    assert st is not None and st["gen"] == 1
    assert _pq_store_layout(root)["trained_rows"] == 90
    assert maybe_retrain_pq_store(spark, root, corpus) is None  # reset
    # a store with NO trained_rows baseline (pre-field layout) must
    # not silently pay a retrain per call (round-11 review finding)
    import json

    lp = os.path.join(root, "layout.json")
    with open(lp) as f:
        layout = json.load(f)
    layout.pop("trained_rows")
    with open(lp, "w") as f:
        json.dump(layout, f)
    with _writer_lock(root):  # would deadlock if it tried to retrain
        assert maybe_retrain_pq_store(spark, root, corpus) is None
    shutil.rmtree(root, ignore_errors=True)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst


@given(
    ops=hst.lists(
        hst.sampled_from(["append", "compact", "retrain"]),
        min_size=1,
        max_size=4,
    )
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_pq_store_lifecycle_codes_consistent(spark, tmp_path, ops):
    """The PQ store's one invariant as a property: after ANY
    interleaving of appends (frozen-book encode), compactions
    (layout-only), and retrains (books rotate + full re-encode), the
    persisted code table equals the from-scratch encode of the
    accumulated corpus against the LIVE books — plus the layout
    invariants (generation monotonic, one file per ``m=`` partition
    after a compact, retrain bumps trained_rows to the corpus size)."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from kt_sql_hbase_ex_spark.functions.similarity import (
        M_SUB,
        _pq_books_dir,
        _pq_codes_dir,
        _pq_encode,
        _pq_store_layout,
        _pq_subs,
        append_pq_batch,
        compact_pq_store,
        retrain_pq_store,
        write_pq_store,
    )

    root = os.path.join(
        tempfile.gettempdir(), f"kt_sql_pqprop_{uuid.uuid4().hex[:10]}"
    )
    ids = list(range(36))
    write_pq_store(spark, root, _pq_vecs(spark, ids), train=True)
    next_id = 100
    gen = 0

    def check():
        corpus = _pq_vecs(spark, ids)
        books = spark.read.parquet(_pq_books_dir(root)).localCheckpoint()
        want = {
            (r["vec_id"], r["m"], r["code"])
            for r in _pq_encode(_pq_subs(corpus), books).collect()
        }
        got = {
            (r["vec_id"], r["m"], r["code"])
            for r in spark.read.parquet(_pq_codes_dir(root)).collect()
        }
        assert got == want

    check()
    for op in ops:
        if op == "append":
            batch = list(range(next_id, next_id + 5))
            next_id += 100
            append_pq_batch(spark, root, _pq_vecs(spark, batch))
            ids.extend(batch)
        elif op == "compact":
            st = compact_pq_store(spark, root)
            gen = st["gen"]
            assert _pq_store_layout(root)["gen"] == gen
            for udir in glob.glob(os.path.join(_pq_codes_dir(root), "m=*")):
                assert len(glob.glob(os.path.join(udir, "*.parquet"))) == 1
        else:
            st = retrain_pq_store(spark, root, _pq_vecs(spark, ids))
            gen = st["gen"]
            assert st["trained_rows"] == len(ids)
        layout = _pq_store_layout(root)
        assert layout["gen"] == gen
        check()
    shutil.rmtree(root, ignore_errors=True)


def test_pq_store_compaction_trigger(spark):
    """maybe_compact_pq_store: under the file-count threshold it does
    nothing (not even the lock); past it, one fold restores one file
    per subspace partition."""
    import glob
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.similarity import (
        _pq_codes_dir,
        append_pq_batch,
        maybe_compact_pq_store,
        write_pq_store,
    )
    from kt_sql_hbase_ex_spark.functions.text_index import _writer_lock

    root = os.path.join(tempfile.gettempdir(), "kt_sql_test_pqstore_mtrig")
    shutil.rmtree(root, ignore_errors=True)
    write_pq_store(spark, root, _pq_vecs(spark, range(36)), train=False)

    def n_files():
        return len(
            glob.glob(
                os.path.join(_pq_codes_dir(root), "**", "*.parquet"),
                recursive=True,
            )
        )

    with _writer_lock(root):  # under threshold: lock never taken
        assert maybe_compact_pq_store(spark, root, max_files=999) is None
    append_pq_batch(spark, root, _pq_vecs(spark, range(100, 105)))
    threshold = n_files() - 1
    st = maybe_compact_pq_store(spark, root, max_files=threshold)
    assert st is not None and st["files_after"] < st["files_before"]
    assert maybe_compact_pq_store(spark, root, max_files=threshold) is None
    shutil.rmtree(root, ignore_errors=True)


def test_pq_store_retrain_crash_sweep(spark):
    """A retrain that crashed before its atomic publish leaves
    never-referenced books_g*/codes_g* orphans and torn layout
    staging; the next retrain sweeps them under the writer lock and
    publishes cleanly — answers as if the crash never happened."""
    import glob
    import json
    import os
    import shutil
    import tempfile

    from kt_sql_hbase_ex_spark.functions.similarity import (
        _pq_store_layout,
        retrain_pq_store,
        write_pq_store,
    )

    root = os.path.join(tempfile.gettempdir(), "kt_sql_test_pqstore_crash")
    shutil.rmtree(root, ignore_errors=True)
    corpus = _pq_vecs(spark, range(36))
    write_pq_store(spark, root, corpus, train=False)

    # simulate the crash window: orphan generation dirs + torn staging
    for orphan in ("books_g1.dead", "codes_g1.dead"):
        os.makedirs(os.path.join(root, orphan))
        with open(os.path.join(root, orphan, "junk.parquet"), "w") as f:
            f.write("torn")
    with open(os.path.join(root, "_tmp.layout.json.deadbeef"), "w") as f:
        json.dump({"gen": 1}, f)

    st = retrain_pq_store(spark, root, corpus)
    assert st["gen"] == 1
    assert not os.path.exists(os.path.join(root, "books_g1.dead"))
    assert not os.path.exists(os.path.join(root, "codes_g1.dead"))
    assert not glob.glob(os.path.join(root, "_tmp.layout.json.*"))
    layout = _pq_store_layout(root)
    # the published generation is the retrain's own, never the orphan
    assert layout["books"].startswith("books_g1.")
    assert layout["books"] != "books_g1.dead"
    queries = (
        _pq_vecs(spark, [500]).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        ),
        corpus,
    )
    assert len(_pq_probe_snap(spark, root, queries)) > 0
    shutil.rmtree(root, ignore_errors=True)


def test_residual_ivfpq_recall_not_below_raw(spark, sf_oracle):
    """sim17 (PQ over residuals, the exact IVFADC) vs sim14 (PQ over
    raw vectors): quantizing ``x - centroid(x)`` spends codebook
    range on within-cell structure, so recall vs brute-force exact L2
    must not lose to the raw form (fixture: 0.87 vs 0.83); floor 0.6
    like sim14's."""
    from pyspark.sql import Window as W

    from kt_sql_hbase_ex_spark.functions.similarity import (
        QUERY_VEC_IDS,
        TOP_K,
        _dot_spark,
        sim14_ivfpq_probe,
        sim17_residual_ivfpq,
    )

    e = load_table(spark, sf_oracle, "embeddings").select(
        "vec_id", "embedding"
    )
    q = e.filter(F.col("vec_id").isin(*QUERY_VEC_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    l2 = (
        _dot_spark("qv", "qv")
        - 2 * _dot_spark("qv", "embedding")
        + _dot_spark("embedding", "embedding")
    )
    scored = q.join(e, F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), l2.alias("d")
    )
    w = W.partitionBy("query_id").orderBy(F.round("d", 6), "neighbor_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .collect()
    }

    def recall(fn):
        a = {
            (r["query_id"], r["neighbor_id"])
            for r in fn(spark, sf_oracle).collect()
        }
        return len(a & exact) / len(exact)

    raw, residual = recall(sim14_ivfpq_probe), recall(sim17_residual_ivfpq)
    assert residual >= 0.6, f"residual IVFADC recall {residual:.2%}"
    assert residual >= raw, (residual, raw)


def _build_residual_store(spark, root, ids):
    """The sim17 store shape built from an explicit corpus (seeds =
    lowest vec_ids, same frozen rules as the fixture build) — the
    LEGACY fixed-name layout, so these tests also cover the
    no-layout.json default resolution path."""
    import os

    from kt_sql_hbase_ex_spark.functions.similarity import (
        _assign_cells,
        _pq_encode,
        _residual,
        _subspaces,
    )

    e = _pq_vecs(spark, ids)
    cent = (
        e.orderBy("vec_id")
        .limit(16)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
        .localCheckpoint()
    )
    cent.coalesce(1).write.parquet(os.path.join(root, "cents"))
    assign = _assign_cells(e, cent).select(
        "vec_id", F.col("cell").alias("cid")
    )
    assign.repartition("cid").write.partitionBy("cid").parquet(
        os.path.join(root, "assign")
    )
    resid = (
        spark.read.parquet(os.path.join(root, "assign"))
        .join(e, ["vec_id"])
        .join(F.broadcast(cent), ["cid"])
        .select("vec_id", _residual("embedding", "cv").alias("rv"))
    )
    rsub = _subspaces(resid, "rv", ["vec_id"])
    books = (
        rsub.filter(F.col("vec_id") < 32)
        .select(
            "m",
            F.col("vec_id").alias("code"),
            F.col("sv").cast("array<double>").alias("cv"),
        )
        .localCheckpoint()
    )
    books.coalesce(1).write.parquet(os.path.join(root, "books"))
    _pq_encode(rsub, books).repartition("m").write.partitionBy("m").parquet(
        os.path.join(root, "codes")
    )


def test_residual_ivfpq_append_equals_rebuild(spark):
    """The residual store's growth path: a batch admitted through
    append_residual_ivfpq_batch (frozen quantizer + frozen books)
    must make the store answer probes identically to a store built
    with the batch present from the start — with BOTH quantizers
    frozen on the same seeds, growth is pure state accretion. Write ∝
    batch (no existing assign/code file touched); a held writer lock
    makes a concurrent admission lose loudly."""
    import glob
    import os
    import shutil
    import tempfile

    import pytest

    from kt_sql_hbase_ex_spark.functions.similarity import (
        append_residual_ivfpq_batch,
        probe_residual_ivfpq_store,
    )
    from kt_sql_hbase_ex_spark.functions.text_index import (
        IndexWriterConflict,
        _writer_lock,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_rivfpq_grow")
    shutil.rmtree(base, ignore_errors=True)
    grown, rebuilt = os.path.join(base, "grown"), os.path.join(base, "rebuilt")

    hist_ids = list(range(36))
    batch_ids = list(range(100, 108))

    _build_residual_store(spark, grown, hist_ids)
    before = {
        p: os.path.getmtime(p)
        for d in ("assign", "codes")
        for p in glob.glob(
            os.path.join(grown, d, "**", "*.parquet"), recursive=True
        )
    }
    append_residual_ivfpq_batch(spark, grown, _pq_vecs(spark, batch_ids))
    for p, mt in before.items():  # write ∝ batch
        assert os.path.getmtime(p) == mt

    # rebuilt twin: the batch present from the start — seeds identical
    # (hist holds the lowest 36 vec_ids, so cents/books freeze the same)
    _build_residual_store(spark, rebuilt, hist_ids + batch_ids)

    queries = _pq_vecs(spark, [500, 501]).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = _pq_vecs(spark, hist_ids + batch_ids)
    snap = lambda root: {
        (r.query_id, r.neighbor_id, r.dist_micro, r.rnk)
        for r in probe_residual_ivfpq_store(
            spark, root, queries, corpus
        ).collect()
    }
    got = snap(grown)
    assert got == snap(rebuilt)
    assert {n for _, n, _, _ in got} & set(batch_ids)  # grown visible

    with _writer_lock(grown):
        with pytest.raises(IndexWriterConflict):
            append_residual_ivfpq_batch(spark, grown, _pq_vecs(spark, [200]))
    shutil.rmtree(base, ignore_errors=True)


def test_residual_ivfpq_append_is_atomic(spark):
    """The residual append's crash story (r11 advice, medium): both
    relations stage into unreferenced batch dirs and ONE layout swap
    publishes them — so (a) a torn append (orphan assign dir with no
    published pointer) is INVISIBLE to the probe and swept by the next
    writer, (b) a compaction folds the batch pairs into one generation
    pair with answers unchanged and deferred GC, and (c) PQ-store
    maintenance pointed at a residual root is rejected loudly instead
    of rotating dirs the residual probe resolves by name."""
    import glob
    import json
    import os
    import shutil
    import tempfile

    import pytest

    from kt_sql_hbase_ex_spark.functions.similarity import (
        _residual_store_layout,
        append_residual_ivfpq_batch,
        compact_pq_store,
        compact_residual_ivfpq_store,
        probe_residual_ivfpq_store,
    )

    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_rivfpq_atomic")
    shutil.rmtree(base, ignore_errors=True)
    root = os.path.join(base, "store")

    # reuse the sibling test's store shape: seeds = lowest vec_ids
    hist_ids = list(range(36))
    _build_residual_store(spark, root, hist_ids)
    queries = _pq_vecs(spark, [500, 501]).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )

    def snap(ids):
        corpus = _pq_vecs(spark, ids)
        return {
            (r.query_id, r.neighbor_id, r.dist_micro, r.rnk)
            for r in probe_residual_ivfpq_store(
                spark, root, queries, corpus
            ).collect()
        }

    baseline = snap(hist_ids)

    # (a) simulate a crash between the two relation writes: an assign
    # batch dir exists but no codes dir and no pointer publish. The
    # probe must not see the torn batch (pre-fix, mode("append") into
    # the live dir made these rows visible with no code rows — the ADC
    # join dropped them silently; worse, sum(dm) double-counted on a
    # retry).
    torn = os.path.join(root, "assign_b1.deadbeef")
    os.makedirs(os.path.join(torn, "cid=0"))
    shutil.copy(
        glob.glob(os.path.join(root, "assign", "cid=*", "*.parquet"))[0],
        os.path.join(torn, "cid=0", "part-torn.parquet"),
    )
    assert snap(hist_ids) == baseline  # orphan invisible
    assert _residual_store_layout(root)["batches"] == 0

    # the retried batch sweeps the orphan and publishes exactly once
    batch_ids = list(range(100, 108))
    append_residual_ivfpq_batch(spark, root, _pq_vecs(spark, batch_ids))
    assert not os.path.exists(torn), "orphan not swept"
    layout = _residual_store_layout(root)
    assert layout["batches"] == 1
    assert len(layout["assign"]) == 2 and len(layout["codes"]) == 2
    grown = snap(hist_ids + batch_ids)
    assert {n for _, n, _, _ in grown} & set(batch_ids)

    # (b) compaction: same answers, one generation pair, deferred GC
    out = compact_residual_ivfpq_store(spark, root)
    assert out["dirs_before"] == 4 and out["dirs_after"] == 2
    layout = _residual_store_layout(root)
    assert len(layout["assign"]) == 1 and len(layout["codes"]) == 1
    assert snap(hist_ids + batch_ids) == grown
    assert set(layout["prev"]), "superseded dirs must be GC-deferred"
    compact_residual_ivfpq_store(spark, root)  # second fold GCs them
    for d in layout["prev"]:
        assert not os.path.exists(os.path.join(root, d))
    assert snap(hist_ids + batch_ids) == grown

    # the size trigger: quiet at 2 dirs, fires past the threshold
    from kt_sql_hbase_ex_spark.functions.similarity import (
        maybe_compact_residual_ivfpq_store,
    )

    assert maybe_compact_residual_ivfpq_store(spark, root) is None
    out2 = maybe_compact_residual_ivfpq_store(spark, root, max_dirs=1)
    assert out2 is not None and out2["gen"] == 3
    assert snap(hist_ids + batch_ids) == grown

    # (c) foreign-store maintenance rejected loudly
    with pytest.raises(ValueError, match="not a PQ store"):
        compact_pq_store(spark, root)
    shutil.rmtree(base, ignore_errors=True)


def test_filtered_ann_recall_vs_filtered_exact(spark, sf_oracle):
    """sim18 (predicate pushed into the membership scan, ADC over
    survivors) vs exact filtered ground truth (brute-force L2 top-k
    restricted to the predicate): filter-FIRST must not lose to the
    naive post-filter of the unfiltered sim14 top-k — the naive form
    returns fewer than k whenever non-matching neighbors crowd the
    unfiltered shortlist, which is exactly why production filtered
    search pre-filters inside the index. Also pins an absolute
    floor."""
    from pyspark.sql import Window as W

    from kt_sql_hbase_ex_spark.functions.similarity import (
        QUERY_VEC_IDS,
        SIM18_LABELS,
        TOP_K,
        _dot_spark,
        sim14_ivfpq_probe,
        sim18_filtered_ann,
    )

    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim18_filtered_ann(spark, sf_oracle).collect()
    }
    e = load_table(spark, sf_oracle, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    q = e.filter(F.col("vec_id").isin(*QUERY_VEC_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    survivors = e.filter(F.col("label").isin(*SIM18_LABELS))
    l2 = (
        _dot_spark("qv", "qv")
        - 2 * _dot_spark("qv", "embedding")
        + _dot_spark("embedding", "embedding")
    )
    scored = q.join(survivors, F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), l2.alias("d")
    )
    w = W.partitionBy("query_id").orderBy(F.round("d", 6), "neighbor_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .collect()
    }
    recall = len(approx & exact) / len(exact)

    # the naive baseline: unfiltered sim14 top-k, post-filtered
    labels = {
        r["vec_id"]: r["label"]
        for r in e.select("vec_id", "label").collect()
    }
    naive = {
        (qid, nid)
        for r in sim14_ivfpq_probe(spark, sf_oracle).collect()
        for qid, nid in [(r["query_id"], r["neighbor_id"])]
        if labels[nid] in SIM18_LABELS
    }
    naive_recall = len(naive & exact) / len(exact)
    assert recall >= naive_recall, (recall, naive_recall)
    assert recall >= 0.5, f"filtered ANN recall {recall:.2%}"


def test_pq_recall_drift_triggers_retrain(spark, tmp_path):
    """r11 verdict task #5: maybe_retrain_pq_store's RECALL trigger —
    a store whose SIZE is constant (size trigger quiet) but whose
    books are bad for the corpus must fire a retrain from the measured
    recall drop, while a healthy store with the identical corpus size
    and threshold does not. Bad books are constructed the way drift
    actually happens: the seed vectors (lowest vec_ids) stop
    resembling the corpus — here they are near-constant vectors, so
    the seeded codebook collapses and ADC can no longer separate
    candidates."""
    import math
    import os
    import shutil

    from kt_sql_hbase_ex_spark.functions.similarity import (
        _pq_store_layout,
        _sample_batch,
        maybe_retrain_pq_store,
        measure_pq_recall,
        measure_residual_ivfpq_recall,
        write_pq_store,
    )

    base = os.path.join(str(tmp_path), "pq_drift")
    good_root = os.path.join(base, "good")
    bad_root = os.path.join(base, "bad")
    os.makedirs(good_root)
    os.makedirs(bad_root)

    good_ids = list(range(100, 196))  # 96 well-spread vectors
    flat = [
        (i, [1.0 + 1e-4 * i + 1e-5 * d for d in range(64)])
        for i in range(32)
    ]  # 32 near-constant seed vectors: a collapsed codebook
    good = _pq_vecs(spark, good_ids)
    bad = spark.createDataFrame(
        flat, "vec_id long, embedding array<double>"
    ).unionByName(_pq_vecs(spark, good_ids[:64]))

    write_pq_store(spark, good_root, good, train=False)
    write_pq_store(spark, bad_root, bad, train=False)
    # both stores are size-quiet: live rows == trained rows
    for root in (good_root, bad_root):
        layout = _pq_store_layout(root)
        assert layout["trained_rows"] > 0

    r_good = measure_pq_recall(spark, good_root, good)
    r_bad = measure_pq_recall(spark, bad_root, bad)
    assert r_bad < r_good, (r_bad, r_good)
    floor = (r_bad + r_good) / 2

    # healthy store, same floor: neither size nor recall fires
    assert maybe_retrain_pq_store(
        spark, good_root, good, min_recall=floor
    ) is None
    # drifted store, size constant: the RECALL trigger fires
    out = maybe_retrain_pq_store(spark, bad_root, bad, min_recall=floor)
    assert out is not None and out["trigger"] == "recall", out
    assert out["measured_recall"] == r_bad
    assert _pq_store_layout(bad_root)["gen"] >= 1  # books rotated
    # and without min_recall the same call stays a no-op (size quiet)
    assert maybe_retrain_pq_store(spark, bad_root, bad) is None

    # the residual-store readout measures on the same scale
    rroot = os.path.join(base, "resid")
    _build_residual_store(spark, rroot, list(range(36)))
    rr = measure_residual_ivfpq_recall(spark, rroot, _pq_vecs(spark, range(36)))
    assert 0.0 <= rr <= 1.0
    shutil.rmtree(base, ignore_errors=True)


def test_semdedup_trained_cells_do_not_lose_neardup_recall(spark, sf_oracle):
    """r11 verdict task #6: training the SemDeDup quantizer (one
    fixed-point Lloyd pass before the freeze) must not LOSE near-dup
    pair recall vs the raw seeded cells — the fraction of exact
    near-dup pairs that land in the SAME cell (the only pairs the
    within-cell pass can ever see) is the clustering's quality
    measure, and Lloyd tightening clusters should capture at least as
    many."""
    from kt_sql_hbase_ex_spark.functions.similarity import (
        D18_TARGET_CELL_ROWS,
        _cosine_spark,
        _ivf_cells_dir,
        ensure_semdedup_store,
    )
    from pyspark.sql import functions as F

    exact = [
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_exact(spark, sf_oracle).collect()
    ]
    assert exact

    # trained membership: the persisted store
    root = ensure_semdedup_store(spark, sf_oracle)
    trained = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(_ivf_cells_dir(root))
        .select("vec_id", "cell")
        .collect()
    }
    # seeded membership: the pre-round-12 raw-seed assignment
    e = load_table(spark, sf_oracle, "embeddings")
    k = max(1, e.count() // D18_TARGET_CELL_ROWS)
    cent = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    seeded = {
        r["vec_id"]: r["cid"]
        for r in e.join(F.broadcast(cent))
        .select(
            "vec_id",
            "cid",
            F.round(_cosine_spark("embedding", "cv"), 6).alias("cc"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cid", F.struct(F.col("cc"), (-F.col("cid")).alias("t"))
            ).alias("cid")
        )
        .collect()
    }

    def pair_recall(cell):
        return sum(1 for a, b in exact if cell[a] == cell[b]) / len(exact)

    r_trained, r_seeded = pair_recall(trained), pair_recall(seeded)
    assert r_trained >= r_seeded, (r_trained, r_seeded)


def test_pq_recall_empty_sample_is_no_signal(spark, tmp_path):
    """Round-12 review fix: an empty deterministic query sample (no
    vec_id in the residue class) must read as NO SIGNAL — the
    scheduled maintenance call returns None instead of crashing on
    float(None)."""
    import os
    import shutil

    from kt_sql_hbase_ex_spark.functions.similarity import (
        maybe_retrain_pq_store,
        measure_pq_recall,
        write_pq_store,
    )

    root = os.path.join(str(tmp_path), "pq_empty_sample")
    os.makedirs(root)
    # vec_ids 100..163 step 2: none satisfies vec_id % 16 == 5
    vecs = _pq_vecs(spark, range(100, 164, 2))
    write_pq_store(spark, root, vecs, train=False)
    assert measure_pq_recall(spark, root, vecs) is None
    assert maybe_retrain_pq_store(spark, root, vecs, min_recall=0.9) is None
    shutil.rmtree(root, ignore_errors=True)
