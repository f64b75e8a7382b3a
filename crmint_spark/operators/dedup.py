"""Deduplication operators over the ``documents`` table.

All variants are pure DataFrame compositions (JVM-side, shuffle-aware) so
they scale: no Python UDFs, no driver collects. Hashing uses the portable
md5-prefix primitive from ``crmint_spark.functions`` so the DuckDB oracle
(in queries) computes bit-identical signatures.

Scale design notes (100 TB):
- exact:    one hash-shuffle on a 60-bit digest; the digest groupBy carries
            only (digest, count, min_id) — not the documents.
- minhash:  signatures are built by explode(shingles) -> groupBy(doc) with
            map-side partial MIN per permutation; LSH banding turns the
            quadratic pair search into an equi-join on (band, band_hash) —
            the classic shuffle-friendly formulation.
- simhash:  bit-vote aggregation is a single groupBy(doc); candidate pairs
            join on rotated signature blocks.
- ngram:    the shingle->doc inverted index join; prune superfrequent
            shingles (stopword shingles) to cap join fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import MINHASH_PRIME, hash_str, minhash_value

# Fixed universal-hash coefficients for the minhash permutations
# (mirrored literally in the DuckDB oracle SQL).
MINHASH_SEEDS: list[tuple[int, int]] = [
    (2971, 433),
    (4111, 877),
    (5381, 1259),
    (6907, 1693),
    (8191, 2137),
    (9973, 2593),
    (11351, 3037),
    (13007, 3491),
]
N_BANDS = 4  # 8 permutations, 2 rows per band
ROWS_PER_BAND = 2


def _shingles(text_col, n: int = 3):
    """Word n-gram shingles as an array column (JVM higher-order fns)."""
    words = F.split(text_col, " ")
    k = F.size(words) - (n - 1)
    return F.when(k <= 0, F.array(F.array_join(words, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content digest: one row per duplicate group with
    the canonical (min) doc_id and the group size.

    The synthetic corpus has no byte-identical documents, so the input
    is self-seeded with a deterministic re-keyed copy of every 100th
    document (doc_id % 100 = 3 -> doc_id + 1000000, mirrored in the
    oracle) — the dedup logic is then validated against real duplicate
    groups instead of vacuously matching on zero rows."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = docs.unionAll(
        docs.filter(F.col("doc_id") % 100 == 3).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return (
        seeded.select("doc_id", hash_str(F.col("text")).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select("canonical_doc_id", "n_copies")
    )


EXACT_DEDUP_SQL = """
WITH seeded AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 3
)
SELECT MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
FROM seeded
GROUP BY ('0x' || substr(md5(text), 1, 15))::BIGINT
HAVING COUNT(*) > 1
"""


def shingle_docs(
    spark: SparkSession, sf_dir: str, n: int = 3, doc_where: str | None = None
) -> DataFrame:
    """(doc_id, shingle_hash) distinct pairs — the shared inverted index.

    The testdata parquet is one row group (one scan task); the md5-per-
    shingle work is CPU-bound, so fan the docs out across cores before
    exploding. On a real multi-file table the scan parallelizes itself
    and this repartition is a cheap no-op-sized shuffle of doc rows.

    ``doc_where``: optional SQL predicate on the documents table (the
    driver-sampleable ``*_small`` registry variants subset here, with
    the identical predicate mirrored in their oracles).
    """
    docs = load(spark, sf_dir, "documents")
    if doc_where:
        docs = docs.filter(doc_where)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # NOTE: a broadcast hash-dictionary over the distinct shingle
    # vocabulary was measured SLOWER here (the distinct + broadcast
    # outweigh JVM-codegen md5); keep the straight-line hash.
    return (
        docs.select(
            "doc_id", F.explode(_shingles(F.col("text"), n)).alias("shingle")
        )
        .select("doc_id", hash_str(F.col("shingle")).alias("sh"))
        .distinct()
    )


def minhash_signatures(
    spark: SparkSession, sf_dir: str, doc_where: str | None = None
) -> DataFrame:
    """Per-doc minhash signature: one MIN per universal-hash permutation.

    Map-side partial aggregation means the shuffle carries 8 longs per
    (partition, doc) — not the shingle set.
    """
    sh = shingle_docs(spark, sf_dir, doc_where=doc_where)
    aggs = [
        F.min(minhash_value(F.col("sh"), a, b)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, doc_where: str | None = None
) -> DataFrame:
    """MinHash + LSH banding: candidate pairs share at least one band;
    estimated Jaccard = fraction of matching permutations.

    Returns (doc_a, doc_b, est_jaccard) for est >= 0.5.
    """
    # Bands carry the full signature (8 longs), so the estimated Jaccard
    # is computed inside the band join itself — one shuffle join on
    # (band, band_key) instead of band-join + two signature re-joins.
    # persist: both join sides derive from the signatures; without it the
    # shingle explode + 8-way MIN aggregation runs twice (8 longs/doc —
    # cacheable at any corpus size)
    sig = minhash_signatures(spark, sf_dir, doc_where=doc_where).persist()
    n_mh = len(MINHASH_SEEDS)
    mh_cols = [f"mh{i}" for i in range(n_mh)]
    # one pass: explode the 4 band keys per signature row (a union of 4
    # selects would recompute the signature aggregation 4 times)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        f"mh{band * ROWS_PER_BAND + r}"
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("band_key"),
            )
            for band in range(N_BANDS)
        ]
    )
    bands = sig.select(
        "doc_id", *mh_cols, F.explode(band_structs).alias("bk")
    ).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"), *mh_cols
    )
    left = bands.alias("l")
    right = bands.alias("r")
    matches = sum(
        F.when(F.col(f"l.mh{i}") == F.col(f"r.mh{i}"), 1).otherwise(0)
        for i in range(n_mh)
    )
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.round(matches / F.lit(float(n_mh)), 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.5)
        .distinct()
    )


def _minhash_sql_core(doc_where: str | None = None) -> str:
    """Shared DuckDB CTEs computing identical shingles + signatures.
    ``doc_where`` mirrors the Spark-side documents subset predicate."""
    mh_exprs = ",\n         ".join(
        f"MIN(({a} * (sh % {MINHASH_PRIME}) + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    )
    where = f"\n  WHERE {doc_where}" if doc_where else ""
    return f"""
shingled AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) < 3
              THEN [text]
              ELSE list_transform(
                     range(1, len(string_split(text, ' ')) - 1),
                     i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
         END AS shingles
  FROM documents{where}
), exploded AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(UNNEST(shingles)), 1, 15))::BIGINT AS sh
  FROM shingled
), sig AS (
  SELECT doc_id,
         {mh_exprs}
  FROM exploded GROUP BY doc_id
)"""


def _minhash_pairs_sql_parts(doc_where: str | None = None) -> tuple[str, str]:
    """(cte_list, final_select) of the DuckDB minhash-pairs query, so
    callers can also wrap the pairs as a CTE (clusters oracle)."""
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {band} AS band, "
        "CAST(mh{c0} AS VARCHAR) || '_' || CAST(mh{c1} AS VARCHAR) AS band_key "
        "FROM sig".format(band=band, c0=band * ROWS_PER_BAND, c1=band * ROWS_PER_BAND + 1)
        for band in range(N_BANDS)
    )
    match_expr = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(len(MINHASH_SEEDS))
    )
    ctes = f"""{_minhash_sql_core(doc_where)},
bands AS (
{band_selects}
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
)"""
    final = f"""SELECT doc_a, doc_b,
       ROUND(({match_expr}) / {float(len(MINHASH_SEEDS))}, 4) AS est_jaccard
FROM cand
JOIN sig sa ON cand.doc_a = sa.doc_id
JOIN sig sb ON cand.doc_b = sb.doc_id
WHERE ROUND(({match_expr}) / {float(len(MINHASH_SEEDS))}, 4) >= 0.5"""
    return ctes, final


def minhash_lsh_sql() -> str:
    ctes, final = _minhash_pairs_sql_parts()
    return f"\nWITH {ctes}\n{final}\n"


# Inverted-index fan-out bound: a shingle present in K docs contributes
# K*(K-1)/2 candidate rows, so one stopword-gram ("of the and" style)
# makes the self-join quadratic in corpus size. Shingles in more than
# NGRAM_DF_CAP docs are dropped from BOTH the intersection AND the
# per-doc set sizes (a consistent "Jaccard over informative shingles"):
# such n-grams are ubiquitous boilerplate and carry no near-duplicate
# evidence, while the cap bounds worst-case join fan-out at
# NGRAM_DF_CAP^2/2 rows per shingle regardless of corpus size.
NGRAM_DF_CAP = 256


def ngram_pairs_from_shingles(
    sh: DataFrame, df_cap: int = NGRAM_DF_CAP, threshold: float = 0.4
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the inverted-index join:
    |A ∩ B| from the shingle join, |A ∪ B| = |A| + |B| - |A ∩ B|,
    both computed over the DF-capped shingle set (see NGRAM_DF_CAP)."""
    hot = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("sh")
    )
    # the over-cap list is tiny by construction — broadcast anti-join
    kept = sh.join(F.broadcast(hot), "sh", "left_anti").cache()
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = kept.alias("a")
    b = kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jacc = F.col("n_common") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    )
    return (
        inter.join(sa, inter.doc_a == F.col("sa.doc_id"))
        .join(sb, inter.doc_b == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_pairs_from_shingles(shingle_docs(spark, sf_dir))


NGRAM_JACCARD_SQL = f"""
WITH {_minhash_sql_core().split(', sig AS')[0]},
hot AS (
  SELECT sh FROM exploded GROUP BY sh HAVING COUNT(*) > {NGRAM_DF_CAP}
), kept AS (
  SELECT * FROM exploded WHERE sh NOT IN (SELECT sh FROM hot)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM inter
JOIN sizes sa ON inter.doc_a = sa.doc_id
JOIN sizes sb ON inter.doc_b = sb.doc_id
WHERE ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.4
"""

# 48 bits: the synthetic corpus's small vocabulary makes narrow
# signatures collide en masse (16-bit: 1M+ candidate pairs at sf0.1;
# 32-bit: 800k). 48 bits in 3x16-bit pigeonhole blocks keeps candidate
# generation selective while all math stays in signed int64 range.
SIMHASH_BITS = 48


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc SimHash over word hashes: for each bit position, sum
    +1/-1 votes of the words' hash bits, sign -> signature bit.

    One explode + one groupBy(doc) with map-side combine; the bit loop is
    column arithmetic, not a UDF.
    """
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    words = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .select("doc_id", hash_str(F.col("w")).alias("wh"))
    )
    # SUM of the masked bit (plus one shared COUNT) instead of a
    # SUM(CASE +1/-1) per bit: ~3x cheaper in codegen, identical
    # semantics (vote sum > 0  <=>  2*ones > count; ties -> 0).
    # Expressions are built as SQL strings — one py4j round-trip per
    # F.expr — because composing them through the Column API cost
    # ~0.8 s of driver time per call (4+ JVM round-trips per bit for
    # 48 bits, twice; r11, guide §1: measured in cProfile)
    ones = [
        F.expr(f"SUM(shiftright(wh, {i}) & 1) AS b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = words.groupBy("doc_id").agg(F.expr("COUNT(1) AS cnt"), *ones)
    sig_sql = " + ".join(
        f"IF(b{i} * 2 > cnt, {1 << i}, 0)" for i in range(SIMHASH_BITS)
    )
    return agg.select(
        "doc_id", F.expr(f"CAST({sig_sql} AS BIGINT) AS simhash")
    )


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with Hamming distance <= 2 on the SimHash.

    Candidate generation by block rotation (split the signature into 3
    blocks; pairs within distance 2 share >= 1 exact block) keeps this an
    equi-join at scale; here with 16 bits we join on the shared blocks and
    verify the exact distance with bit_count.
    """
    # persist: the self-join would otherwise run the 48-bit vote
    # aggregation once per side. The signature table is ~16 B/doc —
    # trivially cacheable at any corpus size (MEMORY_AND_DISK spills)
    sig = simhash_signatures(spark, sf_dir).persist()
    # 3 blocks of 16 bits: distance<=2 pigeonholes into >=1 equal block.
    # Single-pass explode (a union of per-block selects would recompute
    # the signature aggregation per block).
    bounds = [(0, 16), (16, 16), (32, SIMHASH_BITS - 32)]
    block_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("blk"),
                F.shiftright(F.col("simhash"), off)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("blk_val"),
            )
            for bi, (off, width) in enumerate(bounds)
        ]
    )
    blocks = sig.select(
        "doc_id", "simhash", F.explode(block_structs).alias("bk")
    ).select(
        "doc_id",
        "simhash",
        F.col("bk.blk").alias("blk"),
        F.col("bk.blk_val").alias("blk_val"),
    )
    l, r = blocks.alias("l"), blocks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.blk_val") == F.col("r.blk_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("sig_a"),
            F.col("r.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("bigint")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 2)
    )


def simhash_pairs_sql() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (wh // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(SIMHASH_BITS)
    )
    return f"""
WITH words AS (
  SELECT doc_id,
         ('0x' || substr(md5(UNNEST(string_split(text, ' '))), 1, 15))::BIGINT AS wh
  FROM documents
), votes AS (
  SELECT doc_id,
         {votes}
  FROM words GROUP BY doc_id
), sig AS (
  SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""


# ---------------------------------------------------------------------------
# Pairs -> clusters: the step that turns near-dup evidence into an
# actionable dedup decision (keep one representative per component).


def connected_components(pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Connected components over an undirected pair list by iterative
    min-label propagation: every node's label becomes the minimum label
    in its neighborhood until a fixpoint. Converges in O(component
    diameter) rounds — near-dup components are shallow (stars/cliques
    around a source document), so a handful of shuffles in practice; the
    alternating large-star/small-star formulation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") is the drop-in
    upgrade if diameters ever grow.

    Each round is one shuffle join + one groupBy MIN, all on the node
    id; labels are persisted per round and the previous round is
    unpersisted, so peak storage is 2 x (one long per node).

    Returns (doc_id, cluster_id) where cluster_id is the smallest doc_id
    in the component.
    """
    edges = (
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .persist()
    )
    labels = (
        edges.select(F.col("s").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .persist()
    )
    while True:
        neighbor_min = (
            edges.join(labels, edges["d"] == labels["doc_id"])
            .select(F.col("s").alias("doc_id"), "label")
        )
        new_labels = (
            labels.unionByName(neighbor_min)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if not changed:
            break
    edges.unpersist()
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters from the MinHash-LSH pairs: every doc that
    appears in a pair, labeled with its component's smallest doc_id (the
    canonical representative a dedup pass would keep)."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    return connected_components(pairs)


def dedup_clusters_sql(doc_where: str | None = None) -> str:
    """DuckDB oracle: transitive closure of the same pairs via a
    recursive CTE, min reachable id per doc."""
    ctes, final = _minhash_pairs_sql_parts(doc_where)
    return f"""
WITH RECURSIVE {ctes},
pairs AS ({final}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
FROM reach GROUP BY a
"""


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) matching — the record-linkage primitive behind
# customer/entity dedup. Blocking is single-pass SORTED NEIGHBORHOOD:
# rank the vocabulary in lexicographic order, candidates are the pairs
# within FUZZY_WINDOW rank positions. Every word contributes at most
# FUZZY_WINDOW candidates, so candidate volume is exactly linear in the
# vocabulary — no skewed blocks at any scale (the old (first char,
# length) key degenerated to ~26×len giant blocks on CRM-sized
# vocabularies). The rank comes from a range-partitioned sort +
# zipWithIndex (two passes, no single-partition stage — the same total-
# order machinery as the seeded global shuffle in corpus.py); the band
# equi-join on floor(rank / window) keeps the pairing an equi-join.

FUZZY_MAX_DIST = 1
FUZZY_WINDOW = 8


def fuzzy_candidates(vocab: DataFrame, window: int = FUZZY_WINDOW) -> DataFrame:
    """Sorted-neighborhood candidate pairs: (word_a, word_b) with
    0 < rank(b) - rank(a) <= window in lexicographic order. Bounded at
    `window` candidates per word by construction (test_fuzzy_blocking_
    bounds_candidates); pairs split across adjacent rank bands are
    recovered by the two-key explode on the left side."""
    sorted_words = vocab.select("w").distinct().orderBy("w")
    indexed = (
        sorted_words.rdd.zipWithIndex()
        .map(lambda t: (t[0][0], t[1]))
        .toDF("w string, rn long")
    )
    g = F.floor(F.col("rn") / window)
    a = indexed.select(
        F.col("w"), F.col("rn"), F.explode(F.array(g, g + 1)).alias("gk")
    ).alias("a")
    b = indexed.select(F.col("w"), F.col("rn"), g.alias("gk")).alias("b")
    return (
        a.join(b, F.col("a.gk") == F.col("b.gk"))
        .filter(
            (F.col("b.rn") - F.col("a.rn") >= 1)
            & (F.col("b.rn") - F.col("a.rn") <= window)
        )
        .select(F.col("a.w").alias("word_a"), F.col("b.w").alias("word_b"))
    )


def fuzzy_word_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical term pairs in the corpus vocabulary: distinct words
    whose Levenshtein distance <= FUZZY_MAX_DIST, blocked by sorted
    neighborhood (window FUZZY_WINDOW). The verify step (levenshtein)
    only runs inside the window, exactly like the signature dedups
    verify inside LSH buckets. Blocking recall is the standard sorted-
    neighborhood property: a pair further than the window apart in sort
    order is not considered (multi-pass with a reversed-key sort is the
    classic recall upgrade)."""
    docs = load(spark, sf_dir, "documents")
    base = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    # the synthetic vocabulary has no natural near-misses, so seed
    # deterministic one-edit typos (w + 'x' for words of >= 4 chars,
    # mirrored in the oracle) — the blocking + verify pipeline is then
    # validated against real distance-1 pairs
    vocab = base.unionAll(
        base.filter(F.length("w") >= 4).select(
            F.concat(F.col("w"), F.lit("x")).alias("w")
        )
    ).distinct()
    dist = F.levenshtein(F.col("word_a"), F.col("word_b"))
    return (
        fuzzy_candidates(vocab, FUZZY_WINDOW)
        .withColumn("edit_dist", dist.cast("bigint"))
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
    )


FUZZY_SQL = f"""
WITH base AS (
  SELECT DISTINCT word AS w FROM (
    SELECT UNNEST(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> ''
), vocab AS (
  SELECT DISTINCT w FROM (
    SELECT w FROM base
    UNION ALL
    SELECT w || 'x' AS w FROM base WHERE length(w) >= 4
  )
), ranked AS (
  SELECT w, ROW_NUMBER() OVER (ORDER BY w) AS rn FROM vocab
)
SELECT a.w AS word_a, b.w AS word_b,
       CAST(levenshtein(a.w, b.w) AS BIGINT) AS edit_dist
FROM ranked a JOIN ranked b
  ON b.rn - a.rn BETWEEN 1 AND {FUZZY_WINDOW}
WHERE levenshtein(a.w, b.w) <= {FUZZY_MAX_DIST}
"""


# ---------------------------------------------------------------------------
# Alternating large-star/small-star connected components


def _neighborhood_mins(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        und.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return und, mins


#: Edge-count bound for the driver union-find fast path of
#: ``connected_components_star`` — ~30 MB of collected edge rows at the
#: bound, far under driver headroom; anything larger runs the
#: distributed star rounds.
CC_DRIVER_EDGE_MAX = 200_000


def connected_components_star(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Connected components via the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the scale path the plain min-label propagation
    in ``connected_components`` names as its upgrade.

    Each round is two map-reduce steps (groupBy MIN + join on the node
    id); the edge set converges to stars around component minima in
    O(log n) rounds REGARDLESS of component diameter, where label
    propagation needs O(diameter) rounds — the difference between 8 and
    10,000 shuffles on chain-shaped components (URL redirect chains,
    citation paths) at web-corpus scale. Per-round persist/unpersist
    keeps peak storage at 2x the edge list.

    Returns (doc_id, cluster_id), cluster_id = smallest doc_id in the
    component — same contract as ``connected_components``.
    """
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .persist()
    )
    # Scale-adaptive hybrid (r11, guide §1.2): the near-dup EDGE set is
    # orders of magnitude smaller than the corpus (only colliding
    # pairs), and below the explicit bound the whole component
    # computation fits driver memory — a union-find over the collected
    # edges replaces ~4 rounds x ~6 tiny shuffles of pure scheduling
    # overhead. Above the bound the star rounds below run unchanged
    # (the O(log n)-round distributed path the module docstring
    # derives); results are identical by construction (cluster_id =
    # min doc_id of the component) and oracle-certified either way.
    # The count materializes the persisted edges, which round 1 would
    # have paid anyway.
    n_edges = e.count()
    if n_edges <= CC_DRIVER_EDGE_MAX:
        rows = e.collect()
        dtype = e.schema["u"].dataType
        e.unpersist()
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            u, v = r["u"], r["v"]
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                # attach the larger root under the smaller: the root of
                # every set stays its minimum, so the final root IS the
                # component min — the contract the star rounds converge to
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField("doc_id", dtype, True),
                StructField("cluster_id", dtype, True),
            ]
        )
        return pairs.sparkSession.createDataFrame(
            [(x, find(x)) for x in parent], schema
        )
    prev_sum = None
    while True:
        # large-star: strictly larger neighbors attach to the min
        und, mins = _neighborhood_mins(e)
        large = (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: smaller-or-equal neighbors and the center attach
        und2, mins2 = _neighborhood_mins(large)
        new_e = (
            und2.join(mins2, "u")
            .where(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # localCheckpoint, not persist: each round's plan would otherwise
        # nest the previous round's joins and re-analysis cost compounds
        try:
            new_e = new_e.localCheckpoint(eager=True)
        except Exception:
            new_e = new_e.persist()
        chk = new_e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: ANSI mode would overflow a long sum
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).first()
        e.unpersist()
        e = new_e
        if prev_sum == (chk["n"], chk["s"]):
            break
        prev_sum = (chk["n"], chk["s"])
    # converged: e is a star set (node -> component min)
    labels = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    out = labels.unionByName(roots).groupBy("doc_id").agg(
        F.min("cluster_id").alias("cluster_id")
    )
    e.unpersist()
    return out


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from the MinHash-LSH pairs via the large-star/
    small-star components — must equal ``dedup_clusters`` (and does, per
    the shared recursive-CTE oracle)."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    return connected_components_star(pairs)


# Driver-sampleable star-CC variant: identical algorithm, documents
# subset by a deterministic predicate so the whole run (pairs + star
# rounds) fits the driver's per-entry budget. doc_id % 2 keeps both
# endpoints of enough LSH pairs that the component output is non-empty
# at sf0.01 (doc_id % 5 kept none — a vacuous oracle). The full-corpus
# ``dedup_clusters_star`` stays registered at the tail.
STAR_SMALL_WHERE = "doc_id % 2 = 0"


def dedup_clusters_star_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh_pairs(spark, sf_dir, doc_where=STAR_SMALL_WHERE)
    return connected_components_star(pairs)


# ---------------------------------------------------------------------------
# Character-level duplicated-substring spans (the exact-substring dedup
# axis of Lee et al. 2021, "Deduplicating Training Data Makes Language
# Models Better" — suffix-array substring dedup re-expressed as a
# shingle-grid equi-join + per-doc span merge)

SPAN_L = 30  # char window length (the paper's ~50-token analogue, scaled)
SPAN_S = 10  # grid stride


def dedup_char_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated character spans per document.

    A char L-gram grid (stride S) replaces the suffix array: any
    substring duplicated across documents of length >= L + S - 1 is
    guaranteed to cover a duplicated grid gram, so the grid detects all
    long cross-doc repeats with bounded state. Pipeline: grid grams ->
    one digest groupBy counting DISTINCT docs per gram (the shuffle
    carries (digest, doc_id), never text) -> per-doc ordered merge of
    overlapping duplicated offsets into maximal spans (lag window +
    running segment id). At 100 TB every stage is a bounded-fan-out
    keyed shuffle — the same scaling shape as the minhash family; no
    suffix array, no global sort of the corpus.
    """
    docs = load(spark, sf_dir, "documents").filter(
        F.length("text") >= SPAN_L
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.length("text") - SPAN_L) / SPAN_S).cast(
                        "int"
                    ),
                ),
                lambda i: F.struct(
                    (i * SPAN_S).alias("off"),
                    F.substring(
                        F.col("text"), i * SPAN_S + 1, SPAN_L
                    ).alias("g"),
                ),
            )
        ).alias("gs"),
    ).select(
        "doc_id",
        F.col("gs.off").alias("off"),
        hash_str(F.col("gs.g")).alias("gh"),
    )
    dup_grams = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") > 1)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("off")
    hits = (
        grams.join(dup_grams, "gh")
        .select("doc_id", "off")
        .distinct()
        .withColumn(
            "new_seg",
            F.when(
                F.col("off") - F.lag("off").over(w) <= SPAN_L, 0
            ).otherwise(1),
        )
        .withColumn("seg", F.sum("new_seg").over(w))
    )
    spans = hits.groupBy("doc_id", "seg").agg(
        F.min("off").alias("start"),
        (F.max("off") + SPAN_L).alias("end"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("end") - F.col("start")).cast("bigint").alias(
                "dup_chars"
            ),
            F.min("start").cast("bigint").alias("first_start"),
        )
        .orderBy("doc_id")
    )


CHAR_SPANS_SQL = f"""
WITH grams AS (
  SELECT doc_id, off,
         ('0x' || substr(md5(substring(text, off + 1, {SPAN_L})), 1, 15))::BIGINT AS gh
  FROM (
    SELECT doc_id, text,
           UNNEST(range(0, length(text) - {SPAN_L} + 1, {SPAN_S})) AS off
    FROM documents WHERE length(text) >= {SPAN_L}
  )
), dup AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1
), hits AS (
  SELECT DISTINCT doc_id, off FROM grams JOIN dup USING (gh)
), flagged AS (
  SELECT doc_id, off,
         CASE WHEN off - lag(off) OVER (PARTITION BY doc_id ORDER BY off)
                   <= {SPAN_L} THEN 0 ELSE 1 END AS new_seg
  FROM hits
), segs AS (
  SELECT doc_id, off,
         SUM(new_seg) OVER (PARTITION BY doc_id ORDER BY off) AS seg
  FROM flagged
), spans AS (
  SELECT doc_id, seg, MIN(off) AS start, MAX(off) + {SPAN_L} AS "end"
  FROM segs GROUP BY doc_id, seg
)
SELECT doc_id, COUNT(*) AS n_spans,
       CAST(SUM("end" - start) AS BIGINT) AS dup_chars,
       CAST(MIN(start) AS BIGINT) AS first_start
FROM spans GROUP BY doc_id ORDER BY doc_id
"""
