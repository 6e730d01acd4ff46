"""Deduplication operators over ``documents`` — exact, n-gram Jaccard,
MinHash+LSH, SimHash.

No reference analog (the reference had no text processing beyond the
unfinished Lucene storage, ``hbase/index/lucene/``); these are the
LLM-training-pipeline operators the engine adds as first-class
capabilities.

Cross-engine determinism: every hash used here is the *portable 32-bit
hash* ``hex(md5(s)[0:8])`` — identical in Spark
(``conv(substring(md5(s),1,8),16,10)``) and DuckDB
(``CAST('0x'||substr(md5(s),1,8) AS BIGINT)``) — so the DuckDB oracles
replay the exact algorithm, not just its contract. MinHash permutations
are LCG-style ``(a_i*h + b_i) mod P`` with coefficients generated once
from a fixed seed below; both the Spark plan and the oracle SQL are
generated from the same constants (single source of truth).

Scale design (100 TB):
* exact dedup — hash-groupBy on content digest: one shuffle of (digest,
  doc_id), never the document bodies.
* n-gram Jaccard — the *quadratic baseline*: full pairwise verification.
  Correct at oracle scale; at corpus scale you never run it raw — it is
  the verifier behind LSH candidates (exactly how d03 uses it).
* MinHash LSH — linear: token-hash array → combined shingle hashes →
  K minima per doc (all one shuffle-free projection), band keys (map),
  candidate pairs (self-join on band key — shuffle proportional to
  collisions, not n²), Jaccard verify on candidates only.
* SimHash — linear: token hashes → 32 weighted bit-sums per doc (one
  groupBy), candidates via 4×8-bit chunk blocking (equi self-join on
  chunk value — pigeonhole covers Hamming ≤ 1), exact Hamming verify
  on candidates only.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kt_sql_hbase_ex_spark import storage
from kt_sql_hbase_ex_spark.registry import query
from kt_sql_hbase_ex_spark.sources.catalog import fan_out, load_table

# ---------------------------------------------------------------------------
# shared constants (single source of truth for Spark plan AND oracle SQL)

MERSENNE_P = 2147483647  # 2^31 - 1
N_HASHES = 12
BAND_ROWS = 3  # => 4 bands
N_BANDS = N_HASHES // BAND_ROWS
JACCARD_THRESHOLD = 0.7  # fixture near-dups sit at >=0.9; next cluster <=0.5
#: band-store partition buckets: bands/ by pmod(xxhash64(band_key), 8),
#: shingles/ by pmod(doc_id, 8). Both store relations are directory-
#: bucketed by their JOIN key, so the batch probe's band equi-join and
#: the verify multi-get prune partitions (DPP off the broadcast batch
#: side) instead of scanning the whole history, and compaction folds
#: per bucket — the key-range form a 100 TB store maintains. 8 buckets
#: at fixture scale; at 100 TB this constant is the only knob.
N_BAND_BUCKETS = 8
N_DOC_BUCKETS = 8
SHINGLE_N = 3
SIMHASH_BITS = 32
#: 4 chunks of 8 bits — pigeonhole guarantee: Hamming <= HAMMING_THRESHOLD(=1)
#: flips bits in at most one chunk, so true pairs always share a chunk.
SIMHASH_CHUNKS = 4
#: ≤1 of 32 bits: the fixture's planted near-dups land at 0-1 while the
#: random-pair distribution starts exploding at 2+ (vocab is only 31
#: words, so the signature space is saturated — real corpora use 64/128
#: bits and a 3-bit radius).
HAMMING_THRESHOLD = 1

_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, MERSENNE_P) for _ in range(N_HASHES)]
MINHASH_B = [_rng.randrange(0, MERSENNE_P) for _ in range(N_HASHES)]


# portable 32-bit hash
def _hash32_spark(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _hash32_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


# 3-token shingles, distinct, as array column (input: tokens array col name)
_SHINGLES_SPARK = (
    "array_distinct(transform(sequence(1, greatest(size({t}) - 2, 0)),"
    " i -> concat_ws(' ', slice({t}, i, 3))))"
)


def shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct 3-token shingle set (docs with >=3 tokens)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = "split(text, ' ')"
    return d.filter(F.expr(f"size({toks})") >= SHINGLE_N).select(
        "doc_id", F.expr(_SHINGLES_SPARK.format(t=toks)).alias("sh")
    )


@query(
    "d01_exact_dedup",
    oracle="""
    WITH doubled AS (
        SELECT * FROM documents UNION ALL SELECT * FROM documents
    ),
    dedup AS (
        SELECT doc_id, lang, text FROM doubled
        QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
    FROM dedup GROUP BY lang
    """,
)
def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest with a deterministic survivor rule
    (min doc_id per digest) over a simulated double-ingest. Scale: the
    shuffle carries (digest, doc_id, lang) only — document bodies stay
    columnar in place until the survivor semi-join."""
    d = fan_out(load_table(spark, sf_dir, "documents")).select("doc_id", "lang", "text")
    doubled = d.unionByName(d)
    w_digest = F.md5("text")
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy(w_digest).orderBy("doc_id")
    )
    dedup = doubled.withColumn("rn", rn).filter(F.col("rn") == 1)
    return dedup.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )


def d02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic n-gram (3-token shingle) Jaccard near-dup pairs — the
    ground-truth verifier (analog of :func:`embedding_neardup_exact`
    for text). NOT a registered operator: the all-pairs self-join is a
    BroadcastNestedLoopJoin over documents×documents and cannot survive
    corpus scale, so it lives here only as the recall baseline asserted
    against d03 (LSH) in tests/test_extensions.py. The linear path for
    full corpora is d03, which reuses exactly this verifier on its
    candidate pairs."""
    sh = shingles_df(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# Combined shingle hash: three 32-bit token hashes mixed arithmetically
# into one 32-bit value. Hashing tokens instead of shingle *strings*
# lets the whole signature pipeline run as a single shuffle-free
# projection (token-hash array → indexed transform → array_min per
# permutation) — no shingle-string concat, no explode, no groupBy.
# Bound check: max token hash < 2^32, so th*C1 < 2^52 and the minhash
# product max(a)*max(h) < 2^63 (asserted in tests) — no BIGINT overflow
# in either engine.
SHINGLE_C1 = 1000003
SHINGLE_C2 = 8191
HASH_SPACE = 4294967296  # 2^32

_TH_SPARK = (
    "transform(split(text, ' '),"
    " x -> cast(conv(substring(md5(x), 1, 8), 16, 10) AS bigint))"
)
_TH_SQL = (
    "list_transform(string_split(text, ' '),"
    " x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT))"
)
_SHH_SPARK = (
    f"transform(sequence(1, size(th) - 2), i -> (element_at(th, i) * {SHINGLE_C1}"
    f" + element_at(th, i + 1) * {SHINGLE_C2} + element_at(th, i + 2)) % {HASH_SPACE})"
)
_SHH_SQL = (
    f"list_transform(generate_series(1, len(th) - 2), i -> (th[i] * {SHINGLE_C1}"
    f" + th[i + 1] * {SHINGLE_C2} + th[i + 2]) % {HASH_SPACE})"
)

# doc_id → hashed-shingle list (duplicates kept; min is insensitive)
_SHH_CTE_SQL = f"""
    th AS (
        SELECT doc_id, {_TH_SQL} AS th
        FROM documents
        WHERE len(string_split(text, ' ')) >= {SHINGLE_N}
    ),
    shh AS (SELECT doc_id, {_SHH_SQL} AS shh FROM th)
"""


def _minhash_exprs_spark() -> list:
    return [
        F.expr(f"array_min(transform(shh, h -> ({a} * h + {b}) % {MERSENNE_P}))").alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def _minhash_select_sql() -> str:
    return ",\n           ".join(
        f"list_min(list_transform(shh, h -> ({a} * h + {b}) % {MERSENNE_P})) AS mh{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )


def _band_key_spark(band: int):
    cols = [F.col(f"mh{band * BAND_ROWS + r}") for r in range(BAND_ROWS)]
    return F.concat_ws(":", F.lit(band), *cols)


def _band_bucket(col: str = "band_key"):
    """The bands relation's partition bucket — a pure function of the
    band key, so the probe side recomputes it and the equi-join carries
    it as a second key (which is what lets DPP prune stored buckets)."""
    return F.pmod(F.xxhash64(col), F.lit(N_BAND_BUCKETS)).cast("int")


def _doc_bucket(col: str = "doc_id"):
    """The shingles relation's partition bucket (verify-side multi-get
    prunes on it the same way)."""
    return F.pmod(F.col(col), F.lit(N_DOC_BUCKETS)).cast("int")


def _band_key_sql(band: int) -> str:
    cols = " || ':' || ".join(
        f"CAST(mh{band * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)
    )
    return f"(CAST({band} AS VARCHAR) || ':' || {cols})"


def hashed_shingles_of(docs: DataFrame) -> DataFrame:
    """doc_id + distinct hashed-shingle set over an arbitrary document
    relation (full corpus, a batch, a bucket — the caller chooses)."""
    return (
        docs.filter(F.expr(f"size(split(text, ' ')) >= {SHINGLE_N}"))
        .select("doc_id", F.expr(_TH_SPARK).alias("th"))
        .select("doc_id", F.expr(f"array_distinct({_SHH_SPARK})").alias("sh"))
    )


def hashed_shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct hashed-shingle set (docs with >=3 tokens) —
    the 32-bit combined-hash analog of :func:`shingles_df`, computed as
    a pure projection (no shuffle). Jaccard over these equals Jaccard
    over shingle strings up to 32-bit collisions (~1e-7 per doc pair)."""
    return hashed_shingles_of(fan_out(load_table(spark, sf_dir, "documents")))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → K minhash values, computed shuffle-free.

    Perf: the entire signature is one narrow projection — token-hash
    array (md5 per *token*, not per shingle string) → combined shingle
    hashes via an indexed ``transform`` → ``array_min`` per permutation.
    The previous explode + groupBy formulation shuffled ~270k hashed
    rows per 5k docs; this shuffles nothing, which is also the shape
    that scales: signatures at 100 TB are embarrassingly parallel.
    Duplicate shingles are kept: ``min`` is duplicate-insensitive, so
    the signature — and hence oracle parity with the distinct-shingle
    verification SQL — is unchanged."""
    return signatures_of(fan_out(load_table(spark, sf_dir, "documents")))


def signatures_of(docs: DataFrame) -> DataFrame:
    """MinHash signatures over an arbitrary document relation — the
    subset form behind :func:`minhash_signatures` (full corpus) and
    d14's batch-only probe."""
    return (
        docs.filter(F.expr(f"size(split(text, ' ')) >= {SHINGLE_N}"))
        .select("doc_id", F.expr(_TH_SPARK).alias("th"))
        .select("doc_id", F.expr(_SHH_SPARK).alias("shh"))
        .select("doc_id", *_minhash_exprs_spark())
    )


_MINHASH_ORACLE = f"""
    WITH {_SHH_CTE_SQL},
    sig AS (
        SELECT doc_id,
           {_minhash_select_sql()}
        FROM shh
    ),
    bands AS (
        SELECT doc_id, unnest([{", ".join(_band_key_sql(b) for b in range(N_BANDS))}]) AS band_key
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    shs AS (SELECT doc_id, list_distinct(shh) AS sh FROM shh)
    SELECT doc_a, doc_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM cand
    JOIN shs a ON a.doc_id = cand.doc_a
    JOIN shs b ON b.doc_id = cand.doc_b
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= {JACCARD_THRESHOLD}
"""


def lsh_candidate_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, sh_a, sh_b) for every LSH candidate pair — the
    shared candidate-generation stage behind d03 (Jaccard verify) and
    d11 (containment classify): band-key self-join for candidates,
    then hashed shingle sets attached for candidate docs ONLY."""
    sig = minhash_signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[_band_key_spark(b) for b in range(N_BANDS)])).alias("band_key"),
    )
    left = bands.select(F.col("doc_id").alias("doc_a"), "band_key")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band_key")
    cand = (
        left.join(right, ["band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        # materialize once: cand feeds BOTH the candidate-id set and the
        # final pair join — without this the band self-join (and the
        # signature projection under it) executes twice. Collision-sized,
        # so the checkpoint is tiny; at 100 TB you persist the candidate
        # set before verification for exactly the same reason.
        .localCheckpoint()
    )
    # verification reads shingles only for candidate docs: the broadcast
    # left-semi join pushes below the shingle projection (Catalyst
    # PushDownLeftSemiAntiJoin), so the expensive shingling runs over
    # |candidate docs|, not the corpus — candidates are ~collisions,
    # orders of magnitude smaller than n at any scale. Jaccard runs over
    # the hashed shingle sets (int array_intersect, no string compares).
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        hashed_shingles_df(spark, sf_dir)
        .join(F.broadcast(cand_ids), "doc_id", "left_semi")
        # same double-consumption: sh is joined as both sides (a and b)
        .localCheckpoint()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return cand.join(a, ["doc_a"]).join(b, ["doc_b"])


@query("d03_minhash_lsh", oracle=_MINHASH_ORACLE)
def d03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection, the linear-time scale path:
    shingle→hash32 (map) → K=12 permutation minima per doc (map)
    → 4 bands of 3 (map) → candidate pairs via self-join on band key
    (shuffle ∝ collisions, not n²) → exact Jaccard verification of
    candidates only. The oracle replays the identical algorithm in SQL —
    same hashes, same coefficients — so this checks the implementation,
    not a lucky sample. Recall vs the unregistered d02 ground-truth
    verifier (:func:`d02_ngram_jaccard`) is asserted in
    tests/test_extensions.py."""
    pairs = lsh_candidate_shingle_pairs(spark, sf_dir)
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def ensure_pair_store(spark: SparkSession, sf_dir: str) -> str:
    """The persisted near-dup pair set — the 'at 100 TB you persist the
    candidate set' that d03's docstring promises, made real with the
    text-index provisioning discipline (fingerprinted by the documents
    file, staging + atomic publish, built once per fixture): d03's
    VERIFIED output (doc_a, doc_b, jaccard) written as the similarity
    graph's edge table. The graph-analytics consumers (d06 connected
    components, d09/d10 PageRank) read this store instead of re-running
    the shingle→minhash→band-join→verify chain per query — exactly how
    a production dedup pipeline runs: one candidate materialization,
    many downstream graph jobs."""
    from kt_sql_hbase_ex_spark.functions.text_index import index_root

    # the store variant carries EVERY parameter the pair set depends on:
    # change any LSH constant and the fingerprint changes, so a stale
    # on-disk pair set from the old algorithm can never be served (the
    # documents-file identity + layout version come from index_root)
    variant = (
        f"lshpairs|{N_HASHES}|{BAND_ROWS}|{JACCARD_THRESHOLD}|{SHINGLE_N}"
        f"|{SHINGLE_C1}|{SHINGLE_C2}|{MINHASH_A[0]}|{MINHASH_B[0]}"
    )

    def build(staging: str) -> None:
        d03_minhash_lsh(spark, sf_dir).write.parquet(staging)

    return storage.build_once(index_root(sf_dir, variant), build)


def read_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) edges from the persisted pair store."""
    root = ensure_pair_store(spark, sf_dir)
    return spark.read.parquet(root).select("doc_a", "doc_b")


_SIMHASH_SIG_SQL = f"""
    tok AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY doc_id, tok
    ),
    bits AS (
        SELECT doc_id, bit,
               SUM(tf * (((h >> bit) & 1) * 2 - 1)) AS w
        FROM (SELECT doc_id, tf, {_hash32_sql("tok")} AS h FROM tok)
        CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit)
        GROUP BY doc_id, bit
    ),
    sig AS (
        SELECT doc_id,
               SUM(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS simhash
        FROM bits GROUP BY doc_id
    )
"""


@query(
    "d04_simhash",
    oracle=f"""
    WITH {_SIMHASH_SIG_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
    """,
)
def d04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit weighted-bit signature per doc
    (token tf × hash bit sign, one groupBy), then pairs within Hamming
    distance {HAMMING_THRESHOLD}, found by *chunk blocking* — the LSH
    banding of Hamming space.

    Candidate generation is linear, not quadratic: the 32-bit signature
    splits into {SIMHASH_CHUNKS} 8-bit chunks; by pigeonhole, Hamming
    <= {HAMMING_THRESHOLD} means at most one chunk differs, so every
    true pair shares >= 3 identical chunks — an *equi* self-join on
    (chunk_no, chunk_value) finds all of them with shuffle proportional
    to chunk collisions, never an all-pairs range join. Exact Hamming
    is then verified on the candidates only (two narrow joins back to
    the signature table). Same answer as the quadratic form — the
    DuckDB oracle is deliberately the brute-force pairing, so parity
    proves the blocking loses nothing."""
    # materialize once: sig feeds the chunk explode AND both sides of
    # the verify join — 16 bytes/doc, so the checkpoint is corpus-tiny
    sig = simhash_signatures(spark, sf_dir).localCheckpoint()
    chunk_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(c),
                F.expr(f"(shiftright(simhash, {8 * c}) & 255)"),
            )
            for c in range(SIMHASH_CHUNKS)
        ]
    )
    chunks = sig.select("doc_id", F.explode(chunk_keys).alias("chunk_key"))
    cand = (
        chunks.alias("a")
        .join(chunks.alias("b"), "chunk_key")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    hamming = F.expr("bit_count(sig_a ^ sig_b)")
    return (
        cand.join(a, ["doc_a"])
        .join(b, ["doc_b"])
        .filter(hamming <= HAMMING_THRESHOLD)
        .select("doc_a", "doc_b", hamming.cast("bigint").alias("hamming"))
    )


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → 32-bit SimHash: per-token tf × per-bit hash sign, summed,
    thresholded to bits, packed to a BIGINT. Linear: two groupBys, both
    keyed by doc_id (co-partitioned after the first shuffle)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", _hash32_spark(F.col("tok")))
    )
    bits = (
        tok.select(
            "doc_id",
            "tf",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum(F.expr("tf * ((shiftright(h, bit) & 1) * 2 - 1)")).alias("w"))
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("w") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(
                F.lit(0)
            )
        ).alias("simhash")
    )


@query(
    "d06_neardup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) lsh
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS n FROM edges),
    walk(n, label) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.n
        WHERE w.label < e.b
    ),
    cc AS (SELECT n AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY n)
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           (doc_id = cluster_id) AS survivor
    FROM cc
    """,
)
def d06_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster collapse — the step after pair detection: LSH
    pairs (d03) are edges; connected components give each document a
    cluster id (min doc_id label propagation to a fixed point); the
    cluster minimum is the canonical survivor. This is the engine's
    iterative-algorithm pattern: a driver-side loop of joins with
    ``localCheckpoint`` truncating lineage per round (the Pregel shape),
    converging in O(component diameter) rounds — near-dup components
    are tiny in practice, so 2-4 rounds. The oracle replays it as a
    DuckDB recursive CTE — same fixed point, declaratively."""
    pairs = (
        read_verified_pairs(spark, sf_dir)  # persisted pair store (one build)
        .localCheckpoint(eager=True)  # pairs feed every iteration: pin in memory
    )
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst")
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(15):  # diameter bound; fixture components converge in <=3
        prop = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    from pyspark.sql import Window as W

    w_sz = W.partitionBy("cluster_id")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w_sz).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("survivor"),
    )


@query(
    "d07_dedup_collapse_report",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) lsh
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS n FROM edges),
    walk(n, label) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.n
        WHERE w.label < e.b
    ),
    cc AS (SELECT n AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY n),
    members AS (
        SELECT d.doc_id, d.lang, d.n_chars, cc.cluster_id
        FROM documents d JOIN cc ON cc.doc_id = d.doc_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                     ORDER BY n_chars DESC, doc_id) AS rn
        FROM members
    ),
    drops AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_dropped,
               CAST(SUM(n_chars) AS BIGINT) AS chars_dropped
        FROM ranked WHERE rn > 1 GROUP BY lang
    ),
    totals AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars_total
        FROM documents GROUP BY lang
    )
    SELECT t.lang, t.n_docs,
           t.n_docs - COALESCE(d.n_dropped, 0) AS n_kept,
           t.chars_total,
           t.chars_total - COALESCE(d.chars_dropped, 0) AS chars_kept
    FROM totals t LEFT JOIN drops d ON d.lang = t.lang
    """,
)
def d07_dedup_collapse_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step after clustering (d06): collapse each near-dup cluster
    to its best member — keep-longest canonicalization (max n_chars,
    doc_id tiebreak), the rule real curation pipelines apply — and
    report the per-language corpus shrink (docs and chars, before →
    kept). Scale shape: the survivor window runs ONLY over cluster
    members (collision-sized, broadcast-joined to their metadata),
    never the corpus; full-corpus work is one groupBy(lang). kept =
    total − dropped, so singletons never enter any window. The oracle
    replays clustering (recursive CTE) + ranking declaratively."""
    from pyspark.sql import Window as W

    clusters = (
        d06_neardup_clusters(spark, sf_dir)
        .select("doc_id", "cluster_id")
        .localCheckpoint()  # collision-sized; feeds the member join
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    members = docs.join(F.broadcast(clusters), "doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    drops = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_dropped"),
            F.sum("n_chars").alias("chars_dropped"),
        )
    )
    totals = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars_total")
    )
    return (
        totals.join(drops, "lang", "left")
        .select(
            "lang",
            "n_docs",
            (F.col("n_docs") - F.coalesce("n_dropped", F.lit(0))).alias("n_kept"),
            "chars_total",
            (F.col("chars_total") - F.coalesce("chars_dropped", F.lit(0))).alias(
                "chars_kept"
            ),
        )
    )


#: docs below this id are the "historical corpus"; the rest are the
#: incoming batch — the incremental-ingest split.
INCREMENTAL_SPLIT_ID = 300


@query(
    "d08_incremental_dedup",
    oracle=f"""
    WITH hist AS (
        SELECT DISTINCT md5(text) AS digest FROM documents
        WHERE doc_id < {INCREMENTAL_SPLIT_ID}
    ),
    batch AS (
        SELECT doc_id, lang, md5(text) AS digest FROM documents
        WHERE doc_id >= {INCREMENTAL_SPLIT_ID}
    ),
    fresh AS (
        SELECT doc_id, lang, digest,
               ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
        FROM batch
        WHERE digest NOT IN (SELECT digest FROM hist)
    ),
    adm AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_admitted
        FROM fresh WHERE rn = 1 GROUP BY lang
    ),
    arr AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_arrived
        FROM batch GROUP BY lang
    )
    SELECT lang, n_arrived, COALESCE(n_admitted, 0) AS n_admitted
    FROM arr LEFT JOIN adm USING (lang)
    """,
)
def d08_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — how dedup actually runs in a standing
    ingest pipeline: the incoming batch is checked against the
    *historical digest index* (32-byte digests of everything ever
    admitted — never the historical bodies), then deduped within
    itself (first doc_id wins per digest). Per-language report: docs
    arrived vs docs admitted. Scale: the anti-join ships only digests;
    the historical index is digest-bucketed so the join co-locates
    without shuffling history; batch-internal dedup is one window over
    the (tiny) surviving batch. This is d01's steady-state form — the
    full-corpus variant re-scans everything, this one touches only the
    new data plus an index lookup."""
    from pyspark.sql import Window as W

    d = fan_out(load_table(spark, sf_dir, "documents"))
    hist = (
        d.filter(F.col("doc_id") < INCREMENTAL_SPLIT_ID)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    batch = (
        d.filter(F.col("doc_id") >= INCREMENTAL_SPLIT_ID)
        .select("doc_id", "lang", F.md5("text").alias("digest"))
        # batch-sized, consumed by the arrival count AND the anti-join:
        # materialize once (multi-scan audit discipline)
        .localCheckpoint()
    )
    arrived = batch.groupBy("lang").agg(F.count("*").alias("n_arrived"))
    # deliberately NO broadcast hint: the historical index grows with the
    # corpus (it is the one side here that can NEVER be assumed small) —
    # the scale plan is a digest-keyed shuffle join against the
    # digest-bucketed index (no history shuffle), and AQE still picks
    # broadcast at fixture scale on its own
    fresh = batch.join(hist, "digest", "left_anti")
    admitted = (
        fresh.withColumn(
            "rn", F.row_number().over(W.partitionBy("digest").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .groupBy("lang")
        .agg(F.count("*").alias("n_admitted"))
    )
    return arrived.join(admitted, "lang", "left").select(
        "lang",
        "n_arrived",
        F.coalesce("n_admitted", F.lit(0)).alias("n_admitted"),
    )


PAGERANK_DAMPING = 0.85


@query(
    "d09_similarity_pagerank",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) lsh
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM nodes),
    contrib AS (
        SELECT e.dst AS doc_id, SUM((1.0 / n.n_nodes) / d.outdeg) AS inflow
        FROM edges e JOIN deg d ON e.src = d.src CROSS JOIN n
        GROUP BY e.dst
    )
    SELECT nodes.doc_id,
           ROUND((1 - {PAGERANK_DAMPING}) / n.n_nodes
                 + {PAGERANK_DAMPING} * COALESCE(contrib.inflow, 0), 8) AS rank
    FROM nodes CROSS JOIN n
    LEFT JOIN contrib ON contrib.doc_id = nodes.doc_id
    """,
)
def d09_similarity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the near-dup similarity graph: ONE exact
    PageRank power-iteration step (uniform init, damping
    {PAGERANK_DAMPING}) over d03's LSH pair graph — high-rank docs are
    boilerplate hubs duplicated across many near-clusters, the ones a
    curation pass inspects first. Pattern follows sim05's kmeans-step:
    the per-iteration transform is verified exactly in SQL; the full
    iterate-to-convergence loop is this step under a driver loop with
    localCheckpoint every few rounds (d06's discipline). Scale: ranks
    and degrees shuffle on doc_id (state ∝ nodes); contributions
    shuffle ∝ edges — the standard Pregel profile, with the similarity
    graph orders of magnitude smaller than the corpus."""
    pairs = read_verified_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint()
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    n_nodes = nodes.count()  # scalar: graph size, drives the teleport term
    if n_nodes == 0:
        # no near-dup pairs => empty graph; the oracle's empty relation
        return spark.createDataFrame([], "doc_id bigint, rank double")
    init = 1.0 / n_nodes
    contrib = (
        edges.join(deg, "src")
        .groupBy(F.col("dst").alias("doc_id"))
        .agg(F.sum(F.lit(init) / F.col("outdeg")).alias("inflow"))
    )
    return nodes.join(contrib, "doc_id", "left").select(
        "doc_id",
        F.round(
            (1 - PAGERANK_DAMPING) / n_nodes
            + PAGERANK_DAMPING * F.coalesce("inflow", F.lit(0.0)),
            8,
        ).alias("rank"),
    )


#: fixed power-iteration budget for d10 — both engines run EXACTLY this
#: many rounds, no early stop, so Spark and the oracle's unrolled SQL
#: evaluate the identical sequence of IEEE operations and agree
#: bit-for-bit before the 6dp output rounding (the earlier
#: delta-early-stop version could drift up to ~5.7e-12 from the
#: oracle's full unroll — enough to flip a rank sitting on a .xxxxxx5
#: boundary). 20 rounds reach the fixed point on the similarity graph
#: with margin (tests/test_extensions.py proves one MORE step moves no
#: node visibly); dropping the stop also drops 20 per-round driver
#: actions, so the fixed unroll is faster as well as deterministic.
#: A production deployment that wants convergence-adaptive iteration
#: counts keys its stop on the sup-norm delta — at the cost of a
#: result that depends on the tolerance, which is exactly what an
#: engine-vs-engine parity gate cannot allow.
PAGERANK_ITERS = 20

#: checkpoint cadence for the d10 driver loop: materializing EVERY
#: round pays one eager job per round (fixed scheduling cost dominates
#: on the small similarity graph); never materializing nests a 20-round
#: plan whose planning/codegen cost grows with depth. Measured at sf0.1
#: (min of 2, warm): every round 6.6 s, every 2nd 6.1 s, every 3rd
#: 4.3 s, every 4th 4.5 s, every 7th 5.5 s, only-final 6.5 s — a flat
#: optimum around 3-4; the checkpoint placement cannot change the
#: computed ranks, only when lineage is cut.
PAGERANK_CKPT_EVERY = 3


def _pagerank_oracle(iters: int) -> str:
    """Unrolled K-iteration PageRank in DuckDB SQL (aggregation over the
    recursive reference is not allowed in a recursive CTE, so the power
    iteration is generated as K chained CTE stages). Every CTE is
    ``AS MATERIALIZED``: DuckDB's default inlining would re-expand each
    stage's references into the next — exponential plan growth that
    made the un-hinted 20-stage form effectively unplannable (3 stages
    0.9 s, 20 stages >500 s); materialized, each stage evaluates once."""
    d = PAGERANK_DAMPING
    stages = [
        "r0 AS MATERIALIZED (SELECT doc_id, 1.0 / n.n_nodes AS rank"
        " FROM nodes CROSS JOIN n)"
    ]
    for i in range(1, iters + 1):
        stages.append(f"""
    r{i} AS MATERIALIZED (
        SELECT nodes.doc_id,
               (1 - {d}) / n.n_nodes + {d} * COALESCE(c.inflow, 0) AS rank
        FROM nodes CROSS JOIN n
        LEFT JOIN (
            SELECT e.dst AS doc_id, SUM(r.rank / dg.outdeg) AS inflow
            FROM edges e
            JOIN deg dg ON e.src = dg.src
            JOIN r{i - 1} r ON r.doc_id = e.src
            GROUP BY e.dst
        ) c ON c.doc_id = nodes.doc_id
    )""")
    return f"""
    WITH pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) lsh
    ),
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS doc_id FROM edges),
    deg AS MATERIALIZED (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
    ),
    n AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM nodes),
    {",".join(stages)}
    SELECT doc_id, ROUND(rank, 6) AS rank FROM r{iters}
    """


@query("d10_pagerank_converged", oracle=_pagerank_oracle(PAGERANK_ITERS))
def d10_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d09's single PageRank step iterated to the fixed point — the
    stated pattern (d06's discipline) made real: a driver loop of
    join + aggregate rounds, ``localCheckpoint`` truncating lineage
    every {PAGERANK_CKPT_EVERY} rounds (the measured optimum — see the
    constant's note), exactly {PAGERANK_ITERS} rounds (no early stop — see
    the PAGERANK_ITERS note: a deterministic unroll is what makes the
    ranks bit-identical to the oracle's unrolled SQL stages before the
    6dp rounding, and it is also one driver action per round cheaper).
    The similarity graph has no dangling nodes (edges are symmetrized),
    so total rank is conserved at exactly 1 each round — the invariant
    tests/test_extensions.py asserts, along with the fixed-point check
    that one MORE exact step moves no node visibly. Scale: per round
    one edge-keyed shuffle (∝ edges) + one node-keyed aggregate
    (∝ nodes), state is the rank vector only; checkpointing keeps the
    plan flat at any iteration count."""
    pairs = read_verified_pairs(spark, sf_dir)  # persisted pair store
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # (src, dst, outdeg) is loop-invariant: materialize ONCE — edges
    # itself needs no separate checkpoint (edge_w subsumes it, and
    # nodes derives from edge_w's src side below), so provisioning is
    # one eager job instead of two
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edge_w = edges.join(deg, "src").localCheckpoint(eager=True)
    # nodes is loop-invariant too: without its own checkpoint every
    # round's left join re-ran this distinct — one extra shuffle per
    # iteration, 20 over the run (round-13 measurement)
    nodes = (
        edge_w.select(F.col("src").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return spark.createDataFrame([], "doc_id bigint, rank double")
    ranks = nodes.select("doc_id", F.lit(1.0 / n_nodes).alias("rank"))
    for i in range(PAGERANK_ITERS):
        contrib = (
            edge_w.join(ranks, edge_w.src == ranks.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        new_ranks = nodes.join(contrib, "doc_id", "left").select(
            "doc_id",
            (
                F.lit((1 - PAGERANK_DAMPING) / n_nodes)
                + PAGERANK_DAMPING * F.coalesce("inflow", F.lit(0.0))
            ).alias("rank"),
        )
        # bounded-depth plan without a per-round job (PAGERANK_CKPT_EVERY)
        if (i + 1) % PAGERANK_CKPT_EVERY == 0 or i == PAGERANK_ITERS - 1:
            new_ranks = new_ranks.localCheckpoint(eager=True)
        ranks = new_ranks
    return ranks.select("doc_id", F.round("rank", 6).alias("rank"))


#: d11: a pair is 'contained' when the smaller doc's shingles are
#: (almost) a subset of the larger's — the boilerplate/snippet-inclusion
#: case symmetric Jaccard under-scores.
CONTAINMENT_THRESHOLD = 0.9


@query(
    "d11_containment_classify",
    oracle=f"""
    WITH {_SHH_CTE_SQL},
    sig AS (
        SELECT doc_id,
           {_minhash_select_sql()}
        FROM shh
    ),
    bands AS (
        SELECT doc_id, unnest([{", ".join(_band_key_sql(b) for b in range(N_BANDS))}]) AS band_key
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    shs AS (SELECT doc_id, list_distinct(shh) AS sh FROM shh),
    scored AS (
        SELECT doc_a, doc_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS cont_a,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh) AS cont_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        FROM cand
        JOIN shs a ON a.doc_id = cand.doc_a
        JOIN shs b ON b.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(jac, 6) AS jaccard,
           ROUND(cont_a, 6) AS containment_a,
           ROUND(cont_b, 6) AS containment_b,
           CASE WHEN jac >= {JACCARD_THRESHOLD} THEN 'duplicate'
                WHEN GREATEST(cont_a, cont_b) >= {CONTAINMENT_THRESHOLD}
                    THEN 'contained'
                ELSE 'related' END AS relation
    FROM scored
    """,
)
def d11_containment_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment classification of the LSH candidate pairs — the dedup
    decision symmetric Jaccard alone gets wrong: a snippet fully
    embedded in a larger document scores low Jaccard (union is big) but
    containment |A∩B|/|A| ≈ 1, and training-data curation treats the
    two cases differently (drop the duplicate vs keep both / strip the
    boilerplate). Each candidate pair is labeled ``duplicate``
    (Jaccard ≥ {JACCARD_THRESHOLD}), ``contained`` (either-direction
    containment ≥ {CONTAINMENT_THRESHOLD}), or ``related`` (band
    collision below both bars — the LSH false-positive band worth
    auditing). Same scale shape as d03 — candidates ∝ band collisions,
    shingle sets attached to candidate docs only; all three ratios come
    from ONE array_intersect per pair. Boundary exactness: each ratio
    is a single IEEE division of small ints, bit-identical in both
    engines, so the CASE labels cannot diverge."""
    pairs = lsh_candidate_shingle_pairs(spark, sf_dir)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    cont_a = inter / F.size("sh_a")
    cont_b = inter / F.size("sh_b")
    jac = inter / F.size(F.array_union("sh_a", "sh_b"))
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round(jac, 6).alias("jaccard"),
        F.round(cont_a, 6).alias("containment_a"),
        F.round(cont_b, 6).alias("containment_b"),
        F.when(jac >= JACCARD_THRESHOLD, "duplicate")
        .when(F.greatest(cont_a, cont_b) >= CONTAINMENT_THRESHOLD, "contained")
        .otherwise("related")
        .alias("relation"),
    )


#: d12 probe names: real fixture names with 1-2 character corruptions —
#: the typo'd / OCR'd / hand-keyed identifiers entity resolution fixes.
FUZZY_PROBES = ("Customer#00000004Z", "Custoner#000000117", "Customer#0000O0033")
FUZZY_MAX_DIST = 2
_FUZZY_PROBES_SQL = ", ".join(f"('{p}')" for p in FUZZY_PROBES)


@query(
    "d12_fuzzy_entity_match",
    oracle=f"""
    WITH probes(probe) AS (VALUES {_FUZZY_PROBES_SQL}),
    matched AS (
        SELECT probe, c_custkey, c_name,
               levenshtein(c_name, probe) AS dist
        FROM probes CROSS JOIN customer
        WHERE levenshtein(c_name, probe) <= {FUZZY_MAX_DIST}
    )
    SELECT probe,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(MIN(dist) AS INTEGER) AS best_dist,
           CAST(MIN(CASE WHEN dist = (SELECT MIN(dist) FROM matched m2
                                      WHERE m2.probe = matched.probe)
                         THEN c_custkey END) AS BIGINT) AS best_key
    FROM matched GROUP BY probe
    """,
)
def d12_fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching — the edit-distance primitive entity
    resolution runs beside set-based dedup (d03/d04 catch shared
    CONTENT; this catches corrupted IDENTIFIERS: typos, OCR noise,
    hand-keyed variants). Each probe name is matched against the
    customer dimension within Levenshtein distance {FUZZY_MAX_DIST};
    per probe: candidate count, best distance, and the deterministic
    best match (min key among min-distance candidates — tie-proof
    cross-engine). Shapes: the probe set broadcasts and the distance
    predicate runs MAP-SIDE inside codegen over the dimension scan —
    the corpus never shuffles for matching; the per-probe rollup
    aggregates candidate-sized data. At 100 TB entity scale the same
    query adds a blocking key (name prefix / phonetic bucket) as an
    equi-join pre-filter so each probe compares against its block, not
    the full dimension — the d03-style candidate-generation step, with
    this exact scoring as the verify stage."""
    probes = spark.createDataFrame([(p,) for p in FUZZY_PROBES], "probe string")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    dist = F.levenshtein("c_name", "probe")
    matched = (
        c.crossJoin(F.broadcast(probes))
        .withColumn("dist", dist)
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
    )
    per = matched.groupBy("probe").agg(
        F.count("*").alias("n_candidates"),
        F.min("dist").cast("int").alias("best_dist"),
        F.min_by("c_custkey", F.struct("dist", "c_custkey")).alias("best_key"),
    )
    return per.select("probe", "n_candidates", "best_dist", "best_key")


#: d13 blocking: split each name into this many segments; by pigeonhole,
#: <= FUZZY_MAX_DIST substitutions leave at least one segment untouched,
#: so every true match shares at least one (slot, segment) blocking key.
FUZZY_BLOCK_SEGMENTS = FUZZY_MAX_DIST + 1


def _blocking_keys(name_col):
    """Array of (slot, segment) blocking keys for a name: the string cut
    into FUZZY_BLOCK_SEGMENTS even segments, each tagged with its slot
    so segment i only ever equi-joins segment i."""
    c = F.col(name_col) if isinstance(name_col, str) else name_col
    n = FUZZY_BLOCK_SEGMENTS
    segs = []
    for i in range(n):
        # 1-based substring bounds of segment i for this string's length
        start = F.floor(F.length(c) * i / n) + 1
        end = F.floor(F.length(c) * (i + 1) / n)
        segs.append(
            F.struct(
                F.lit(i).alias("slot"),
                c.substr(start, (end - start + 1)).alias("seg"),
            )
        )
    return F.array(*segs)


@query(
    "d13_blocked_entity_match",
    oracle=f"""
    WITH probes(probe) AS (VALUES {_FUZZY_PROBES_SQL}),
    matched AS (
        SELECT probe, c_custkey, c_name,
               levenshtein(c_name, probe) AS dist
        FROM probes CROSS JOIN customer
        WHERE levenshtein(c_name, probe) <= {FUZZY_MAX_DIST}
    )
    SELECT probe,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(MIN(dist) AS INTEGER) AS best_dist,
           CAST(MIN(CASE WHEN dist = (SELECT MIN(dist) FROM matched m2
                                      WHERE m2.probe = matched.probe)
                         THEN c_custkey END) AS BIGINT) AS best_key
    FROM matched GROUP BY probe
    """,
)
def d13_blocked_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d12's fuzzy entity matching with BLOCKED candidate generation —
    the form a 100 TB entity-resolution run invokes (round-5 verdict
    #7): instead of scoring every probe against the whole dimension,
    each name emits {FUZZY_BLOCK_SEGMENTS} positional blocking keys
    (the string cut into even segments, slot-tagged) and candidates
    come from an EQUI-JOIN on (slot, segment) — the d03-style
    candidate-generation stage, with d12's Levenshtein scoring as the
    verify stage over candidates only. Recall is provable, not
    heuristic: ≤{FUZZY_MAX_DIST} substitutions can touch at most
    {FUZZY_MAX_DIST} of the {FUZZY_BLOCK_SEGMENTS} segments, so by
    pigeonhole every true match shares an untouched segment's key —
    which is why this query's oracle IS the UNBLOCKED computation: a
    hash match per round proves blocking lost zero recall.
    Insert/delete corruptions shift segment boundaries and need
    shift-tolerant keys (q-gram blocks) — documented limit of the
    positional scheme, matching the substitution-shaped corruption
    entity identifiers actually suffer (typos, OCR confusions).
    Scale shapes: the probe side's exploded keys broadcast
    (probes × {FUZZY_BLOCK_SEGMENTS} rows); the dimension explodes
    map-side and equi-joins — candidates ∝ block collisions, never
    |probes| × |dimension|, and a hot block (the fixture's shared
    'Customer#' prefix makes slot 0 one) only costs its own collision
    list, which the verify filter then prunes; production adds a
    stop-block cap (drop keys whose frequency exceeds a threshold)
    exactly as web-scale blocking systems do. Tie rule and rollup are
    d12's, so results are deterministic cross-engine."""
    probes = spark.createDataFrame([(p,) for p in FUZZY_PROBES], "probe string")
    pkeys = probes.select(
        "probe", F.explode(_blocking_keys("probe")).alias("k")
    ).select("probe", "k.slot", "k.seg")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    ckeys = c.select(
        "c_custkey", "c_name", F.explode(_blocking_keys("c_name")).alias("k")
    ).select("c_custkey", "c_name", "k.slot", "k.seg")
    # candidate generation: equi-join on the blocking key, dedup pairs
    # matched in more than one segment
    cand = (
        ckeys.join(F.broadcast(pkeys), ["slot", "seg"])
        .select("probe", "c_custkey", "c_name")
        .distinct()
    )
    # verify stage: d12's exact scoring over candidates only
    matched = cand.withColumn("dist", F.levenshtein("c_name", "probe")).filter(
        F.col("dist") <= FUZZY_MAX_DIST
    )
    return matched.groupBy("probe").agg(
        F.count("*").alias("n_candidates"),
        F.min("dist").cast("int").alias("best_dist"),
        F.min_by("c_custkey", F.struct("dist", "c_custkey")).alias("best_key"),
    ).select("probe", "n_candidates", "best_dist", "best_key")


def ensure_band_store(spark: SparkSession, sf_dir: str) -> str:
    """Persisted LSH BAND INDEX of the historical corpus (doc_id <
    INCREMENTAL_SPLIT_ID) — the near-dup analog of d08's digest index
    and t13's postings index: ``bands/`` holds (doc_id, band_key) rows
    for every historical document, ``shingles/`` its hashed shingle
    sets (for candidate verification only). Built once with the
    text-index provisioning discipline (fingerprinted by the documents
    file + EVERY LSH parameter, staging + atomic publish); a standing
    pipeline appends each admitted batch's bands/shingles the same way
    the digest index grows. Both tables ARE bucketed by their join key
    (``bkb=`` by band-key hash / ``dkb=`` by doc_id residue), so the
    batch probe and the verification multi-get prune the history scan
    to touched buckets (DPP off the broadcast batch side) instead of
    shuffling or rescanning it, and compaction folds per bucket."""
    from kt_sql_hbase_ex_spark.functions.text_index import index_root

    variant = (
        f"lshbandstore|bkb{N_BAND_BUCKETS}dkb{N_DOC_BUCKETS}"
        f"|{N_HASHES}|{BAND_ROWS}|{SHINGLE_N}|{SHINGLE_C1}"
        f"|{SHINGLE_C2}|{MINHASH_A[0]}|{MINHASH_B[0]}"
        f"|split{INCREMENTAL_SPLIT_ID}"
    )

    def build(staging: str) -> None:
        hist = fan_out(load_table(spark, sf_dir, "documents")).filter(
            F.col("doc_id") < INCREMENTAL_SPLIT_ID
        )
        write_band_store(spark, staging, hist)

    return storage.build_once(index_root(sf_dir, variant), build)


#: shared by d14 (append-grown store) and d15 (compacted store): the
#: from-scratch batch-vs-history LSH replay. d15 using the IDENTICAL
#: oracle is the point — no store layout transformation may change a
#: single probe answer.
_INCR_NEARDUP_ORACLE = f"""
    WITH {_SHH_CTE_SQL},
    sig AS (
        SELECT doc_id,
           {_minhash_select_sql()}
        FROM shh
    ),
    bands AS (
        SELECT doc_id, unnest([{", ".join(_band_key_sql(b) for b in range(N_BANDS))}]) AS band_key
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT nw.doc_id AS doc_new, old.doc_id AS doc_old
        FROM bands nw JOIN bands old ON nw.band_key = old.band_key
        WHERE nw.doc_id >= {INCREMENTAL_SPLIT_ID}
          AND old.doc_id < {INCREMENTAL_SPLIT_ID}
    ),
    shs AS (SELECT doc_id, list_distinct(shh) AS sh FROM shh)
    SELECT doc_new, doc_old,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM cand
    JOIN shs a ON a.doc_id = cand.doc_new
    JOIN shs b ON b.doc_id = cand.doc_old
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= {JACCARD_THRESHOLD}
    """


@query(
    "d14_incremental_neardup",
    oracle=_INCR_NEARDUP_ORACLE,
)
def d14_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection against the PERSISTED band index
    — d08's steady-state ingest story lifted from exact to NEAR
    duplicates, the check every training-data pipeline runs on each
    arriving batch ('is this new document a near-copy of anything
    already admitted?'). Work ∝ batch + collisions, never corpus:
    the batch's signatures/bands are a narrow projection over the
    batch alone, the probe is one equi-join of batch bands against the
    stored band index (at scale: bucketed by band_key — history never
    shuffles), and verification fetches stored shingle sets ONLY for
    collided historical docs (broadcast semi-join of the
    collision-sized id set — the multi-get shape). The oracle replays
    the same algorithm declaratively over the full corpus with the
    same split, so the hash match proves the store-probe path computes
    exactly what a from-scratch batch-vs-history LSH would. The
    fixture split (history = doc_id < INCREMENTAL_SPLIT_ID) is
    size-inverted vs production (tiny history, big batch) but the work
    profile is shape-identical by construction."""
    root = ensure_band_store(spark, sf_dir)
    batch = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") >= INCREMENTAL_SPLIT_ID
    )
    return probe_band_store(spark, root, batch)


def ensure_compacted_band_store(spark: SparkSession, sf_dir: str) -> str:
    """d15's fixture store: the SAME historical corpus as
    :func:`ensure_band_store`, but run through the steady state of a
    long-lived admission pipeline — history admitted as three batches,
    compacted, grown by another append, compacted AGAIN (so the live
    generation is g2, the g0 legacy directories are GC'd, and g1 sits
    in deferred-GC retention). Probing it must answer exactly like the
    never-compacted store — which is what d15's oracle (identical to
    d14's) proves every round."""
    from kt_sql_hbase_ex_spark.functions.text_index import index_root

    variant = (
        f"lshbandstore-compacted|bkb{N_BAND_BUCKETS}dkb{N_DOC_BUCKETS}t1"
        f"|{N_HASHES}|{BAND_ROWS}|{SHINGLE_N}"
        f"|{SHINGLE_C1}|{SHINGLE_C2}|{MINHASH_A[0]}|{MINHASH_B[0]}"
        f"|split{INCREMENTAL_SPLIT_ID}"
    )

    def build(staging: str) -> None:
        hist = fan_out(load_table(spark, sf_dir, "documents")).filter(
            F.col("doc_id") < INCREMENTAL_SPLIT_ID
        )
        for residue in range(3):
            write_band_store(
                spark, staging, hist.filter(F.col("doc_id") % 4 == residue)
            )
        compact_band_store(spark, staging, target_files=2)
        write_band_store(
            spark, staging, hist.filter(F.col("doc_id") % 4 == 3)
        )
        # second fold is the SELECTIVE per-bucket form: buckets the
        # post-compaction append touched (2 files) fold to one file,
        # untouched buckets (1 file) carry by hardlink — so the graded
        # probe covers the mixed fold+carry generation every round
        compact_band_store(spark, staging, target_files=1, only_buckets_over=1)

    return storage.build_once(index_root(sf_dir, variant), build)


@query(
    "d15_compacted_band_probe",
    oracle=_INCR_NEARDUP_ORACLE,
)
def d15_compacted_band_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d14's incremental near-dup probe against a store that has lived
    the full maintenance cycle — batch admissions, generation-pointer
    compaction, post-compaction growth, a second compaction with
    deferred GC (:func:`ensure_compacted_band_store`). The oracle is
    BYTE-IDENTICAL to d14's from-scratch replay, so the gate proves
    each round that no layout transformation the store performs —
    folding files, swapping ``layout.json``, GC'ing a superseded
    generation — changes a single (doc_new, doc_old, jaccard) answer.
    This is the graded form of the compaction contract, the way t16
    grades the text index's per-prefix fold."""
    root = ensure_compacted_band_store(spark, sf_dir)
    batch = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") >= INCREMENTAL_SPLIT_ID
    )
    return probe_band_store(spark, root, batch)


def probe_band_store(spark: SparkSession, root: str, batch_docs: DataFrame) -> DataFrame:
    """(doc_new, doc_old, jaccard) near-dup pairs of a batch against a
    persisted band store — d14's probe as a reusable API: batch
    signatures/bands (narrow projection over the batch alone), one
    equi-join against the stored bands, Jaccard verify over stored
    shingles fetched only for collided docs. An EMPTY store (nothing
    admitted yet — a pipeline's first batch) yields no pairs. Both
    store reads carry the bucket key as a leading join key: the bands
    equi-join broadcasts the (statement-sized) batch, so DPP prunes
    the stored-bands scan to touched buckets (plan-pinned in
    tests/test_plans.py); the shingles multi-get is a broadcast semi
    join bounded by collided ids whose bucket key makes the same
    pruning AVAILABLE — Spark's benefit estimate applies it when the
    relation's size warrants (at fixture scale it reads the tiny
    relation whole, which is also correct)."""
    import glob
    import os

    from kt_sql_hbase_ex_spark.functions.text_index import (
        reject_flat_relation,
    )

    bands_dir, shingles_dir = _band_store_dirs(root)
    reject_flat_relation(bands_dir)
    reject_flat_relation(shingles_dir)
    if not glob.glob(os.path.join(bands_dir, "**", "*.parquet"), recursive=True):
        return spark.createDataFrame(
            [], "doc_new bigint, doc_old bigint, jaccard double"
        )
    bbands = signatures_of(batch_docs).select(
        F.col("doc_id").alias("doc_new"),
        F.explode(
            F.array(*[_band_key_spark(b) for b in range(N_BANDS)])
        ).alias("band_key"),
    ).withColumn("bkb", _band_bucket())
    hist_bands = spark.read.parquet(bands_dir).select(
        F.col("doc_id").alias("doc_old"), "band_key", "bkb"
    )
    cand = (
        # the batch side broadcasts EXPLICITLY: it is statement-sized by
        # definition (the repo's only-queries-broadcast discipline), and
        # making it the build side lets DPP prune the history scan to
        # touched buckets at any store size — size-based planning at
        # fixture scale would otherwise broadcast the (tiny) history
        F.broadcast(bbands)
        .join(hist_bands, ["bkb", "band_key"])
        .select("doc_new", "doc_old")
        .distinct()
        # collision-sized; feeds both id-set semi-joins AND the final
        # pair join (the d03 multi-consumer materialization discipline)
        .localCheckpoint()
    )
    new_ids = cand.select(F.col("doc_new").alias("doc_id")).distinct()
    old_ids = cand.select(F.col("doc_old").alias("doc_id")).distinct()
    sh_new = (
        hashed_shingles_of(batch_docs)
        .join(F.broadcast(new_ids), "doc_id", "left_semi")
        .select(F.col("doc_id").alias("doc_new"), F.col("sh").alias("sh_new"))
    )
    sh_old = (
        spark.read.parquet(shingles_dir)
        .join(
            F.broadcast(old_ids.withColumn("dkb", _doc_bucket())),
            ["dkb", "doc_id"],
            "left_semi",
        )
        .select(F.col("doc_id").alias("doc_old"), F.col("sh").alias("sh_old"))
    )
    pairs = cand.join(sh_new, ["doc_new"]).join(sh_old, ["doc_old"])
    jac = F.size(F.array_intersect("sh_new", "sh_old")) / F.size(
        F.array_union("sh_new", "sh_old")
    )
    return pairs.filter(jac >= JACCARD_THRESHOLD).select(
        "doc_new", "doc_old", F.round(jac, 6).alias("jaccard")
    )


def _band_store_layout(root: str) -> dict:
    """The band store's generation pointer: ``layout.json`` names the
    live bands/shingles directories (relative to ``root``). Absent —
    a store that has never been compacted — the fixed names apply.
    The DATA layout inside those directories must be the bucketed
    form (``bkb=``/``dkb=`` partition dirs): stores written by the
    pre-bucketing code are rejected loudly by both the probe and the
    compactor (a silent fold of flat files would publish an empty
    generation) — rebuild them. ``prev`` lists the directories of the
    generation superseded by the LAST compaction, retained until the
    next one (deferred GC: an in-flight reader that resolved the old
    layout can finish its scan)."""
    return storage.read_layout(
        root, {"gen": 0, "bands": "bands", "shingles": "shingles", "prev": []}
    )


def _band_store_dirs(root: str) -> tuple[str, str]:
    """(bands_dir, shingles_dir) of the live generation at ``root``."""
    import os

    lay = _band_store_layout(root)
    return os.path.join(root, lay["bands"]), os.path.join(root, lay["shingles"])


def compact_band_store(
    spark: SparkSession,
    root: str,
    target_files: int = 1,
    only_buckets_over: int | None = None,
) -> dict:
    """Fold the band store's accumulated per-batch files down to
    ``target_files`` files per relation BUCKET — the sustainability
    path of the standing admission pipeline
    (st14/:func:`append_band_batch`): every admitted batch appends one
    file per touched bucket, so after N batches a probed bucket opens
    O(N) small files; compaction restores O(1) without changing a
    single answer.

    The fold is PER KEY-RANGE: each ``bkb=``/``dkb=`` bucket directory
    is an independent unit — rewritten with its own job when its file
    count exceeds ``only_buckets_over`` (the selective form a 100 TB
    store runs: rewrite cost ∝ hot buckets, not store), carried into
    the new generation by hardlink when at or under it (the t16
    cold-prefix discipline — no data movement, same inode). The
    default ``only_buckets_over=None`` folds every bucket; the default
    ``target_files=1`` restores each bucket to its single-file steady
    state, so the :func:`maybe_compact_band_store` trigger goes
    quiescent after a fold instead of re-firing forever.

    The lock / orphan-sweep / fold-or-carry / atomic-publish /
    deferred-GC machinery is the shared engine
    (:func:`~kt_sql_hbase_ex_spark.functions.text_index.compact_partitioned_store`);
    flat pre-bucketed stores are rejected loudly there — folding one
    would publish an empty generation. Returns
    ``{"gen", "files_before", "files_after"}``."""
    from kt_sql_hbase_ex_spark.functions.text_index import (
        compact_partitioned_store,
    )

    return compact_partitioned_store(
        spark,
        root,
        lambda: _band_store_layout(root),  # resolved UNDER the lock
        [("bands", "bands"), ("shingles", "shingles")],
        target_files=target_files,
        only_units_over=only_buckets_over,
    )


def maybe_compact_band_store(
    spark: SparkSession,
    root: str,
    max_files: int = 24,
    target_files: int = 1,
    only_buckets_over: int | None = None,
) -> dict | None:
    """Size-TRIGGERED band-store compaction (the
    :func:`~kt_sql_hbase_ex_spark.functions.text_index.compact_text_index_prefixes`
    discipline applied here): fold only when the live generation's
    small-file count exceeds ``max_files``, so a standing admission
    pipeline (st14) calls this after EVERY batch and pays the rewrite
    only when accretion warrants it — and, with ``only_buckets_over``
    set, only for the buckets that accreted (cold buckets carry by
    hardlink). The count is a driver-side listing, no data read.
    Returns the compaction report, or ``None`` when under threshold
    (store untouched — not even the lock is taken, so a cheap no-op
    check never conflicts with a writer)."""
    import glob
    import os

    bands_dir, shingles_dir = _band_store_dirs(root)
    n = len(
        glob.glob(os.path.join(bands_dir, "**", "*.parquet"), recursive=True)
    ) + len(
        glob.glob(os.path.join(shingles_dir, "**", "*.parquet"), recursive=True)
    )
    if n <= max_files:
        return None
    return compact_band_store(
        spark, root, target_files=target_files, only_buckets_over=only_buckets_over
    )


def write_band_store(spark: SparkSession, root: str, docs: DataFrame) -> None:
    """Write (or append) one document batch's bands + shingle sets into
    the band store's LIVE generation at ``root`` (resolved through
    ``layout.json``, so appends after a compaction land in the folded
    directories) — the shared writer behind the fixture provisioning
    (:func:`ensure_band_store`) and the standing pipeline's admission
    path (:func:`append_band_batch`). Both relations land bucketed by
    their join key (``bkb=`` / ``dkb=`` partition dirs); the
    batch-sized ``repartition`` on the bucket key keeps an append to
    ≤1 file per touched bucket per relation instead of tasks×buckets."""
    bands_dir, shingles_dir = _band_store_dirs(root)
    sig = signatures_of(docs)
    (
        sig.select(
            "doc_id",
            F.explode(
                F.array(*[_band_key_spark(b) for b in range(N_BANDS)])
            ).alias("band_key"),
        )
        .withColumn("bkb", _band_bucket())
        .repartition("bkb")
        .write.mode("append")
        .partitionBy("bkb")
        .parquet(bands_dir)
    )
    (
        hashed_shingles_of(docs)
        .withColumn("dkb", _doc_bucket())
        .repartition("dkb")
        .write.mode("append")
        .partitionBy("dkb")
        .parquet(shingles_dir)
    )


def append_band_batch(spark: SparkSession, root: str, batch_docs: DataFrame) -> None:
    """Admit one batch into the persisted band store — the growth path
    that makes d14 a STANDING pipeline (the digest index's d08 role for
    near-dups): after a batch passes its near-dup probe, its bands and
    shingle sets append as new parquet files, so the NEXT batch's probe
    sees it as history. Append-only by design — admitted documents are
    immutable in a training-data corpus, so the store needs no
    tombstones (the text index's update path exists for the mutable
    case). Concurrent admissions serialize mechanically through the
    store writer lock (:func:`storage.writer_lock`); the batch-vs-rebuild
    equivalence is pinned by ``tests/test_extensions.py``."""
    with storage.writer_lock(root):
        write_band_store(spark, root, batch_docs)


#: bounded traversal depth for d16 — the declarative-recursion grading
#: query. Small by design: UNION ALL recursion multiplies path counts,
#: so the cap is what keeps work ∝ Σ fanout^K instead of component!.
REACH_HOPS = 3

#: the walk CTE + final select, shared verbatim by both engines (the
#: caller supplies the WITH RECURSIVE list head naming nodes/edges)
_REACH_WALK = """walk(seed, node, depth) AS (
        SELECT n, n, 0 FROM {nodes}
        UNION ALL
        SELECT w.seed, e.b, w.depth + 1
        FROM walk w JOIN {edges} e ON e.a = w.node
        WHERE w.depth < {k}
    )
    SELECT seed, node, CAST(MIN(depth) AS BIGINT) AS hops
    FROM walk GROUP BY seed, node
"""


@query(
    "d16_khop_reachability",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) lsh
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS n FROM edges),
    {_REACH_WALK.format(nodes="nodes", edges="edges", k=REACH_HOPS)}
    """,
)
def d16_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability over the near-dup similarity graph via Spark
    4's NATIVE ``WITH RECURSIVE`` — the declarative-recursion surface
    (Calcite 1.17 had no recursive-query support; RepeatUnion arrived
    experimentally in 1.20+, so this extends the reference). For every
    document in the verified pair graph: every document within
    {REACH_HOPS} hops and its shortest hop distance. Both engines run
    the IDENTICAL recursion text — anchor (each node at depth 0), one
    UNION ALL step joining the frontier to the edge table under a depth
    cap, then MIN(depth) per (seed, node) AFTER the recursion (shortest
    path as post-aggregation, since aggregates can't live inside the
    recursive term).

    Scale honesty: UNION ALL recursion re-visits nodes once per path,
    so an UNBOUNDED closure over a clustered graph is exponential — the
    depth cap is load-bearing, bounding work to Σ fanout^{REACH_HOPS}
    over components that are tiny by construction (near-dup clusters).
    For full components at 100 TB you run the label-propagation loop
    (d06) — fixed state per node per round; this entry grades the
    bounded-neighborhood form recursion IS right for (k-hop context
    expansion around a seed set), executed by Catalyst's iterative
    union-loop with a shuffle join per level. Edges come from the
    persisted pair store (``ensure_pair_store``) — built once,
    traversed many times."""
    pairs = read_verified_pairs(spark, sf_dir)
    # pin ONE materialization of the edge relation: the recursive step
    # references it once per level, and without the checkpoint each
    # level re-reads the pair parquet AND re-runs the symmetrize+
    # distinct shuffle — loop-invariant work belongs outside the loop
    # (the d06/d10 iteration discipline applied to native recursion)
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select("doc_b", "doc_a"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges.createOrReplaceTempView("__ktsql_d16_edges")
    edges.select(F.col("a").alias("n")).distinct().createOrReplaceTempView(
        "__ktsql_d16_nodes"
    )
    return spark.sql(
        "WITH RECURSIVE "
        + _REACH_WALK.format(
            nodes="__ktsql_d16_nodes", edges="__ktsql_d16_edges", k=REACH_HOPS
        )
    )


# --- span-level (substring) dedup ---------------------------------------
#
# Document-level dedup (d01/d03/d04/d11) misses the other duplication
# mode a web corpus carries: the SAME span (boilerplate, license text,
# quoted passages) repeated inside otherwise-distinct documents —
# training on it memorizes the span (Lee et al., "Deduplicating
# Training Data Makes Language Models Better": substring dedup at 50
# BPE tokens). The exact suffix-array construction doesn't map to a
# relational engine; the standard distributed approximation is
# FIXED-LENGTH TOKEN WINDOWS: every W-token window hashes, a window
# hash seen in >=2 distinct documents marks a duplicated span, and the
# scrub drops the covered token positions. One linear explode per pass
# (rows ∝ corpus tokens), ONE shuffle (group by window hash, partial
# map-side agg), and the duplicated-window set is statement-sized so
# the scrub joins it back by BROADCAST — the 100 TB shape.

#: window width in whitespace tokens (the BPE-token analog this
#: fixture's plain-text documents support)
SPAN_W = 8

#: shared tokenizer text — Spark and the DuckDB oracle must tokenize
#: IDENTICALLY for window hashes to agree: lower, trim, split on \s+
_SPAN_TOKENS_SPARK = "split(lower(trim(text)), '\\\\s+')"
_SPAN_TOKENS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


def _span_windows(df: DataFrame) -> DataFrame:
    """(doc_id, i, gram_hash) — every W-token window of every document,
    1-based start position, md5 of the space-rejoined window. The CASE
    guard matters: Spark's ``sequence(1, 0)`` DESCENDS instead of
    returning empty, so short documents must short-circuit."""
    toks = df.select(
        "doc_id", F.expr(_SPAN_TOKENS_SPARK).alias("t")
    )
    wins = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(t) >= {SPAN_W} THEN "
                f"transform(sequence(1, size(t) - {SPAN_W - 1}), "
                f"i -> md5(concat_ws(' ', slice(t, i, {SPAN_W})))) "
                f"ELSE CAST(array() AS array<string>) END"
            )
        ).alias("pos0", "gram_hash"),
    )
    return wins.select(
        "doc_id", (F.col("pos0") + 1).alias("i"), "gram_hash"
    )


#: broadcast budget for the duplicated-window probe set (distinct
#: gram_hash rows). The set is corpus-DUPLICATION-sized, not
#: statement-sized: Lee et al. measured ~1% of C4's tokens inside
#: repeated substrings, which at 100 TB is billions of distinct
#: hashes — far past any broadcast. Under the budget a broadcast
#: avoids re-shuffling the window relation; above it the probe joins
#: by shuffle.
DUP_SPAN_BROADCAST_MAX = 1_000_000


#: single-slot cache registry for :func:`probe_duplicated_spans` —
#: each invocation either REUSES the previous call's persisted
#: duplicated-window set (when the incoming plan is semantically the
#: same relation — Catalyst's ``sameResult``; tr15 and tr16 build
#: identical detection aggregates, so the second probe's count is a
#: cache hit, not a recompute) or unpersists it before persisting its
#: own. Either way at most ONE cached relation is held per session
#: instead of accumulating across bench sweeps (round-9 review
#: finding). A dropped relation is safe: its consumer join was
#: materialized by the prior call's action, and a straggler re-read
#: recomputes from lineage.
_LAST_DUP_CACHE: list = []


def probe_duplicated_spans(wins, dup, max_broadcast: int | None = None):
    """Join every window onto the duplicated-window set with a
    SIZE-GUARDED strategy (round-9 — closes the round-8 "statement-
    sized by nature" overclaim): the set is counted FIRST — one cheap
    action on the persisted aggregate the detection pass just computed,
    so the join below reuses the cached rows instead of re-running the
    window shuffle — and broadcast only under
    :data:`DUP_SPAN_BROADCAST_MAX`; above the budget the probe falls
    back to a shuffled hash join on ``gram_hash`` (the window relation
    shuffles once on the same key the detection pass already hashed —
    linear, skew-free: md5 keys are uniform). Correctness is identical
    on both paths; only the exchange strategy moves."""
    from pyspark import StorageLevel

    limit = DUP_SPAN_BROADCAST_MAX if max_broadcast is None else max_broadcast
    if _LAST_DUP_CACHE:
        prev = _LAST_DUP_CACHE[-1]
        try:
            if prev._jdf.queryExecution().analyzed().sameResult(
                dup._jdf.queryExecution().analyzed()
            ):
                dup = prev  # same relation: the materialized cache serves
            else:
                _LAST_DUP_CACHE.pop().unpersist(blocking=False)
        except Exception:
            _LAST_DUP_CACHE.clear()  # stopped session: nothing to free
    if dup is not (_LAST_DUP_CACHE[-1] if _LAST_DUP_CACHE else None):
        dup = dup.persist(StorageLevel.MEMORY_AND_DISK)
        _LAST_DUP_CACHE.clear()
        _LAST_DUP_CACHE.append(dup)
    if dup.count() <= limit:
        return wins.join(F.broadcast(dup), "gram_hash")
    return wins.join(dup.hint("SHUFFLE_HASH"), "gram_hash")


#: oracle CTE shared by d17 and tr15: windows per document, DuckDB
#: form (generate_series(1, 0) is empty there, so no guard needed;
#: unnest-with-carried-columns replicates doc_id per window)
_SPAN_WINDOWS_SQL = f"""
    toks AS (SELECT doc_id, source, {_SPAN_TOKENS_SQL} AS t FROM documents),
    idx AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - {SPAN_W - 1}, 0))) AS i
            FROM toks),
    w AS (SELECT doc_id, i,
                 md5(array_to_string(t[i:i + {SPAN_W - 1}], ' ')) AS gram_hash
          FROM idx)
"""


@query(
    "d17_repeated_span_detection",
    oracle=f"""
    WITH {_SPAN_WINDOWS_SQL}
    SELECT gram_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM w
    GROUP BY gram_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def d17_repeated_span_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated spans: every {SPAN_W}-token window
    hashed, windows whose hash occurs in >=2 DISTINCT documents
    reported with their document and occurrence counts — the detection
    half of substring-level dedup (the duplication mode document-level
    MinHash/SimHash can't see; see the section note above). Plan: one
    linear tokenize+explode pass (no UDFs — split/slice/concat_ws/md5
    are all codegen'd), ONE shuffle on the window hash with map-side
    partial aggregation, HAVING applied post-aggregate. At 100 TB the
    explode is embarrassingly parallel and the shuffle carries (hash,
    partial counts) pairs, never window text — the md5 happens BEFORE
    the exchange for exactly that reason."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        _span_windows(docs)
        .groupBy("gram_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )

