"""Text-analysis / dedup / similarity coverage over `documents` and
`embeddings` — the training-data-pipeline operator family (task brief):
exact + n-gram-Jaccard dedup, fingerprinting, brute-force + bucketed
cosine similarity, sequence packing and the composed corpus build
(near-dedup removal, stratified sampling, packing).

SQL-oracle-expressible variants live here with their DuckDB twins; the
model-backed / sketch variants (MinHash-LSH, IVF ANN, pipeline verdict)
are in queries_ml.py, which shares `load` (one table of an sf testdata
dir).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .operators.stages import BOILERPLATE_WS


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Scale-adaptive scan parallelization (r6, opt guide §2/§6): when the
    upstream scan yields FEWER partitions than the session's default
    parallelism — the sandbox testdata tables are one parquet row group
    each, i.e. ONE scan task, which serializes every pre-shuffle stage
    (Python kernels, explodes, HOF projections) onto a single core —
    redistribute by a deterministic hash key so the expensive downstream
    map stage uses every core. Guarded by the measured partition count, so
    at production scale (scan splits >= parallelism) this is a structural
    no-op: no exchange enters the plan. The explicit numPartitions keeps
    AQE from coalescing the small exchange back to one partition. The
    exchange itself moves only the projected columns (KB-MB here), far
    below the serial-stage cost it removes — measured r6: pipeline
    documents noop 1.39 -> 1.10 s, ngram df-phase 0.75 -> 0.61 s at
    sf0.1 under local[32]."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if cols:
        return df.repartition(target, *[F.col(c) for c in cols])
    return df.repartition(target)


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min/max of the 8-char shingle
    hash stream (winnowing's two anchors) — cheap locality-sensitive
    signature, fully codegen'd via higher-order array functions.
    r6: spread — ~n_chars md5 calls per doc all ran in the single scan
    task (no-op at scale; measured noop 2.0 -> 0.5 s at sf0.1)."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    norm = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    d = docs.select("doc_id", norm.alias("t")).withColumn("n", F.length("t"))
    idx = F.sequence(F.lit(1), F.greatest(F.col("n") - 7, F.lit(1)))
    hashes = F.transform(idx, lambda i: F.md5(F.col("t").substr(i, F.lit(8))))
    return d.select(
        "doc_id",
        F.array_min(hashes).alias("fp_min"),
        F.array_max(hashes).alias("fp_max"),
    )


SQL_ROLLING_FP = r"""
SELECT doc_id,
       list_min(hs) AS fp_min,
       list_max(hs) AS fp_max
FROM (
  SELECT doc_id,
         list_transform(
           range(1, GREATEST(length(t) - 7, 1) + 1),
           i -> md5(substring(t, i, 8))
         ) AS hs
  FROM (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        FROM documents)
)
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (the normalization-then-hash dedup key)."""
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


SQL_FINGERPRINT = r"""
SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on documents: hash-group, deterministic winner
    (min doc_id), survivors count per lang — the §2.5 dedup_exact op."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("lang")
        .agg(F.count("*").alias("n_unique_docs"))
    )


SQL_DEDUP_EXACT = """
SELECT lang, COUNT(*) AS n_unique_docs FROM (
  SELECT lang, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1 GROUP BY lang
"""


NEAR_DUP_TAU = 0.8  # near-dup pair threshold on the UNROUNDED Jaccard ratio
MAX_GRAM_DF = 50  # stop-gram cutoff: shingles in more docs carry no
# near-dup signal but quadratic join fan-out (df^2 rows per gram) — the
# standard candidate-pruning move in shingle-based dedup. Applied to the
# similarity UNIVERSE on BOTH engines, so jaccard semantics stay identical.


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-bigram Jaccard >= 0.8 over the rare-gram
    universe (document frequency <= MAX_GRAM_DF): shingle explode ->
    df-filter -> self-join on shingle -> pair aggregation. The exact
    baseline the MinHash-LSH path approximates; the df-filter is what
    keeps the self-join linear-ish in corpus size at scale.

    r6: the scan is spread (see `spread` above) — the sandbox documents
    table is one row group, so the bigram explode + array_distinct (the
    heaviest pre-shuffle map) otherwise runs on ONE core; at production
    scale the guard makes this a no-op. Measured: df-phase noop
    0.75 -> 0.61 s at sf0.1."""
    docs = spread(
        load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    words = F.split(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "), " ")
    grams_all = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.zip_with(
                    words,
                    F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(1))),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            )
        ).alias("gram"),
    ).filter(F.col("gram").contains(" "))
    rare = (
        grams_all.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= MAX_GRAM_DF)
        .select("gram")
    )
    # the rare-gram table feeds THREE consumers (sizes + both self-join
    # sides); without materialization Spark plans the full explode +
    # df-aggregation subtree once per consumer (VERDICT r01: 3x plan =
    # 49% of the whole bench). Persist caps it at one computation; the
    # cache is gram-rows only (post df-filter) so it is strictly smaller
    # than the input corpus and spills to disk if not.
    grams = grams_all.join(rare, "gram").persist()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .withColumn(
            "raw_j", F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))
        )
        .filter(F.col("raw_j") >= NEAR_DUP_TAU)  # threshold on the UNROUNDED ratio,
        .select("d1", "d2", F.round("raw_j", 4).alias("jaccard"))  # like the SQL
    )


# Single source for the shared ngram-pair CTE chain: SQL_NGRAM_JACCARD,
# SQL_DEDUP_CLUSTERS and SQL_NEAR_DEDUP_KEEP are all BUILT from these
# fragments with MAX_GRAM_DF / NEAR_DUP_TAU interpolated, mirroring how
# the Spark side composes (q_dedup_clusters calls q_ngram_jaccard_pairs)
# — a re-pin of the threshold or tokenization updates every oracle at
# once (code-review r3: the r3-initial hand-duplicated copies would have
# gone silently stale on any re-pin).
# NOTE: built via @PLACEHOLDER .replace(), NOT f-strings — a future regex
# re-pin with a bounded quantifier like \s{2,} inside an f-string would be
# silently interpolated as a Python expression ({2,} -> "(2,)") and corrupt
# all three derived oracles at once (code-review r3).
_NGRAM_CTES = r"""grams_all AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, len(regexp_split_to_array(regexp_replace(lower(text), '\s+', ' ', 'g'), ' '))),
             i -> regexp_split_to_array(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')[i]
                  || ' ' ||
                  regexp_split_to_array(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')[i+1]
           )) AS gram
    FROM documents
  )
), grams AS (
  SELECT doc_id, gram FROM grams_all
  WHERE gram IN (SELECT gram FROM grams_all GROUP BY gram HAVING COUNT(*) <= @MAX_GRAM_DF)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)""".replace("@MAX_GRAM_DF", str(MAX_GRAM_DF))

SQL_NGRAM_JACCARD = r"""
WITH @CTES
SELECT d1, d2,
       ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= @TAU
""".replace("@CTES", _NGRAM_CTES).replace("@TAU", str(NEAR_DUP_TAU))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTERING — the step every near-dup pipeline needs after
    pair generation: connected components over the ngram-Jaccard>=0.8
    pair graph, each doc labeled with its component's minimum doc_id
    (the canonical representative to keep) plus the cluster size.

    Spark realization: `operators.graphops.connected_components` —
    iterative min-label propagation WITH pointer jumping (O(log n)
    rounds, one join + one groupBy per round, localCheckpoint lineage
    truncation, O(1) driver state; property-tested on chains / stars /
    cliques in tests/test_graphops.py). Non-SQL-iterative engines can't
    express this declaratively; DuckDB's recursive CTE can — so unlike
    the sketch ops this one has a full value-hash oracle
    (SQL_DEDUP_CLUSTERS)."""
    from .operators.graphops import connected_components

    pairs = q_ngram_jaccard_pairs(spark, sf_dir).select("d1", "d2")
    labels = connected_components(pairs)
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("v").alias("doc_id"),
            F.col("lbl").alias("cluster_rep"),
            "cluster_size",
        )
    )


# graph CTEs shared by SQL_DEDUP_CLUSTERS and SQL_NEAR_DEDUP_KEEP:
# pairs -> symmetric edges -> transitive reach -> per-doc component min
_COMPONENT_CTES = r"""@CTES, pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= @TAU
), edges AS (
  SELECT d1 AS s, d2 AS t FROM pairs UNION ALL SELECT d2, d1 FROM pairs
), verts AS (
  SELECT DISTINCT s AS v FROM edges
), reach AS (
  SELECT v, v AS r FROM verts
  UNION
  SELECT e.t AS v, reach.r FROM reach JOIN edges e ON e.s = reach.v
), mins AS (
  SELECT v AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY v
)""".replace("@CTES", _NGRAM_CTES).replace("@TAU", str(NEAR_DUP_TAU))

SQL_DEDUP_CLUSTERS = r"""
WITH RECURSIVE @COMPONENTS, cnt AS (
  SELECT cluster_rep, COUNT(*) AS cluster_size FROM mins GROUP BY cluster_rep
)
SELECT m.doc_id, m.cluster_rep, c.cluster_size
FROM mins m JOIN cnt c ON m.cluster_rep = c.cluster_rep
ORDER BY m.doc_id
""".replace("@COMPONENTS", _COMPONENT_CTES)


def q_near_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup REMOVAL: the corpus keep-list after dropping
    every near-dup cluster member except its canonical representative
    (min doc_id) — pairs -> components -> anti-join, i.e. the complete
    near-dedup operator a training pipeline actually applies. Singletons
    (docs in no >=0.8-Jaccard pair) are kept by construction."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    clusters = q_dedup_clusters(spark, sf_dir)
    losers = clusters.filter(
        F.col("doc_id") != F.col("cluster_rep")
    ).select("doc_id")
    return docs.join(losers, "doc_id", "left_anti")


SQL_NEAR_DEDUP_KEEP = r"""
WITH RECURSIVE @COMPONENTS
SELECT d.doc_id
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM mins WHERE doc_id <> cluster_rep)
ORDER BY d.doc_id
""".replace("@COMPONENTS", _COMPONENT_CTES)


def q_near_dup_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ANALYTICS (r4): are near-dup pairs intra-source or
    cross-source? This single number decides the dedup sharding strategy
    at 100 TB — if dups were source-local the pair generation could run
    source-partitioned (an embarrassingly parallel dedup per source);
    measured here they are 24/25 CROSS-source, which is precisely why the
    pipeline's near-dedup operators shuffle on content-derived keys
    (bands/shingles) instead of source. Plan shape: the tiny pair list
    joins the doc->source dim twice (AQE broadcasts the pair side)."""
    pairs = q_ngram_jaccard_pairs(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.select(F.col("doc_id").alias("d1"), F.col("source").alias("s1"))
    db = docs.select(F.col("doc_id").alias("d2"), F.col("source").alias("s2"))
    return (
        pairs.join(da, "d1")
        .join(db, "d2")
        .groupBy((F.col("s1") == F.col("s2")).alias("same_source"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jaccard"), 4).alias("avg_jaccard"),
        )
        .orderBy("same_source")  # 2-row agg: stable tiny sort
    )


SQL_NEAR_DUP_SOURCE_STATS = r"""
WITH @CTES, pj AS (
  SELECT d1, d2,
         ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= @TAU
)
SELECT da.source = db.source AS same_source,
       COUNT(*) AS n_pairs,
       ROUND(AVG(jaccard), 4) AS avg_jaccard
FROM pj
JOIN documents da ON da.doc_id = pj.d1
JOIN documents db ON db.doc_id = pj.d2
GROUP BY 1 ORDER BY 1
""".replace("@CTES", _NGRAM_CTES).replace("@TAU", str(NEAR_DUP_TAU))


# Shared SQL fragments for the exact-cosine twin family — one template,
# three consumers (SQL_EMB_NEAR_DUP, queries_ml.SQL_ANN_CHECKED, and the
# dedup-keep pair graph below), composed via .replace() like _NGRAM_CTES
# (code-review r4: the construction was hand-copied 3x and could drift).
COS_V_CTE = (
    "v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
    " AS dv\n           FROM embeddings)"
)
COS_P_CTE = """p AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         list_sum(list_transform(range(1, len(a.dv) + 1),
                    i -> a.dv[i] * b.dv[i]))
           / (sqrt(list_sum(list_transform(a.dv, x -> x * x)))
              * sqrt(list_sum(list_transform(b.dv, x -> x * x)))) AS raw
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)"""
COS_PAIRS_SQL = """
WITH @V,
@P
SELECT v1, v2, ROUND(raw, 4) AS cos FROM p WHERE @GATE
""".replace("@V", COS_V_CTE).replace("@P", COS_P_CTE)

SQL_EMB_NEAR_DUP = COS_PAIRS_SQL.replace("@GATE", "raw >= 0.35")


def q_embedding_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style EMBEDDING near-dup removal (r4): exact cosine pairs
    (>= 0.35, the pinned data-calibrated threshold of
    q_embedding_near_dup) -> connected components -> keep each
    component's minimum vec_id plus every untouched vector — the
    embedding-space twin of q_near_dedup_keep, completing the dedup
    family (exact text / ngram text / sketch text / embedding). sf0.01:
    338 touched vectors in 75 components, 263 dropped, 237 kept.

    The registered form consumes the PINNED exact pair twin so the DuckDB
    recursive-CTE oracle verifies the whole pairs->components->keep chain
    end-to-end; at corpus scale the pair source swaps to the IVF
    candidates (identical downstream composition — graphops components
    are O(log n) rounds either way). The swap itself is GATED, not just
    promised: tests/test_recall.py::test_embedding_dedup_keep_scale_
    composition runs this exact chain over the IVF pair output and
    asserts keep-set superset (structural: within-cell cosines are a
    subset of the exact pair graph at matched rounded gates) plus a
    calibrated keep-set Jaccard (IVF 0.858 >= 0.8 at sf0.01)."""
    from .operators.graphops import connected_components

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    pairs = q_embedding_near_dup(spark, sf_dir).select("v1", "v2")
    labels = connected_components(pairs, src="v1", dst="v2")
    losers = labels.filter(F.col("v") != F.col("lbl")).select(
        F.col("v").alias("vec_id")
    )
    return emb.join(losers, "vec_id", "left_anti")


SQL_EMB_DEDUP_KEEP = """
WITH RECURSIVE @V,
@P,
pairs AS (
  SELECT v1, v2 FROM p WHERE raw >= 0.35
), edges AS (
  SELECT v1 AS s, v2 AS t FROM pairs UNION ALL SELECT v2, v1 FROM pairs
), verts AS (
  SELECT DISTINCT s AS vv FROM edges
), reach AS (
  SELECT vv AS v, vv AS r FROM verts
  UNION
  SELECT e.t AS v, reach.r FROM reach JOIN edges e ON e.s = reach.v
), mins AS (
  SELECT v, MIN(r) AS rep FROM reach GROUP BY v
)
SELECT e.vec_id, e.label
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT v FROM mins WHERE v <> rep)
""".replace("@V", COS_V_CTE).replace("@P", COS_P_CTE)


PACK_BUDGET = 2048  # tokens per bin — pinned with the SQL fragment below


def packed_bin_summary(docs: DataFrame) -> DataFrame:
    """(source, doc_id, text) -> per-(source, bin) packing summary: THE
    sequence-packing construction, shared by q_sequence_packing and
    q_corpus_build (code-review r4: the composite hand-copied it, so a
    budget/tokenizer re-pin would have left the copies disagreeing).
    Each doc joins the bin its EXCLUSIVE running token sum starts in
    (sequential packer), per-source windows so the sort is distributed.
    Tokenizer: the EXPLICIT ASCII whitespace class (boilerplate pin,
    SURVEY §2.9.17) with empty tokens removed — see q_sequence_packing's
    docstring for why both choices are load-bearing."""
    toks = F.size(
        F.array_remove(
            F.split(F.col("text"), BOILERPLATE_WS), ""
        )
    )
    d = docs.select("source", "doc_id", toks.cast("long").alias("n_tok"))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    binned = d.withColumn(
        "bin", F.floor(cum_excl / F.lit(float(PACK_BUDGET))).cast("bigint")
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("tot_tokens"),
        )
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the batch-construction op of an LLM training
    pipeline: documents are packed in doc_id order into fixed token-budget
    bins (PACK_BUDGET=2048 whitespace tokens), each doc assigned to the
    bin its EXCLUSIVE running token sum starts in (sequential packer).
    Packing is per-source (Window.partitionBy(source)) so the sort is
    distributed — one window shuffle keyed by source, never a global
    single-partition sort; at corpus scale `source` is the shard key.
    Tokenizer: EXPLICIT ASCII whitespace class (the boilerplate pin,
    SURVEY §2.9.17) — NOT \\s, because Java \\s and RE2 \\s disagree
    on \\x0b — and EMPTY tokens removed after the split, because a trailing newline (most real files) or empty text
    otherwise counts a phantom token and a one-token drift shifts every
    downstream bin (code-review r3 ×2)."""
    docs = load(spark, sf_dir, "documents").select("source", "doc_id", "text")
    return packed_bin_summary(docs)


# Packing SQL, parameterized on the source relation (@SRC) so the plain
# op and the corpus_build composite share ONE definition of tokenizer,
# window frame, and budget.
PACK_SQL = r"""t AS (
  SELECT source, doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\r\f\x0B]+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM @SRC
), c AS (
  SELECT source, doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
  FROM t
)
SELECT source,
       CAST(FLOOR(cum_excl / @BUDGET.0) AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tot_tokens
FROM c GROUP BY source, bin""".replace("@BUDGET", str(PACK_BUDGET))

SQL_SEQUENCE_PACKING = (
    "WITH " + PACK_SQL.replace("@SRC", "documents") + " ORDER BY source, bin"
)


def stratified_keep_cond():
    """THE stratified-sampling keep predicate of q_corpus_build (per-lang
    md5 hex rates: substr(md5, 1, 2) < '40' keeps 64/256 = 25% of en,
    < 'c0' keeps 192/256 = 75% of every other lang), with STRAT_PRED_SQL
    as its SQL twin: engine-portable, re-run-stable, no sampling state."""
    h = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    thr = F.when(F.col("lang") == "en", F.lit("40")).otherwise(F.lit("c0"))
    return F.substring(h, 1, 2) < thr


STRAT_PRED_SQL = (
    "substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 2)"
    " < (CASE WHEN lang = 'en' THEN '40' ELSE 'c0' END)"
)


def q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-corpus build (r4): the full declarative chain a
    pretraining data pipeline actually runs, composed from this module's
    pinned operators in ONE Spark plan —

        near-dedup removal  (ngram pairs -> connected components ->
                             keep min-id representative per cluster)
        -> stratified sampling (per-lang md5 hex rates: en 25%, rest 75%)
        -> sequence packing    (2048-token bins per source, exclusive
                                running sum, distributed per-source sort)

    emitted at the (source, bin) grain like q_sequence_packing so the
    DuckDB oracle (recursive-CTE keep-list + the same sampling predicate
    + the same window packer) value-checks every stage's interaction:
    a drift anywhere — dedup graph, sampling hash, tokenizer, bin
    boundary — shifts downstream rows and breaks the hash. Every stage is
    the SHARED pinned construction, not a copy: q_near_dedup_keep,
    stratified_keep_cond, packed_bin_summary (code-review r4). Scale
    shape is the sum of its parts, all previously argued: bucketed pair
    join + O(log n) components, narrow sampling projection, one window
    shuffle keyed by source."""
    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id", "lang", "text"
    )
    kept = docs.join(q_near_dedup_keep(spark, sf_dir), "doc_id", "left_semi")
    sampled = kept.filter(stratified_keep_cond())
    return packed_bin_summary(sampled)


# composed from the SAME pinned fragments as the standalone operators:
# _COMPONENT_CTES (dedup keep-list), STRAT_PRED_SQL, PACK_SQL
SQL_CORPUS_BUILD = (
    r"""
WITH RECURSIVE @COMPONENTS,
kept AS (
  SELECT d.source, d.doc_id, d.lang, d.text
  FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM mins WHERE doc_id <> cluster_rep)
),
sampled AS (
  SELECT source, doc_id, text FROM kept
  WHERE @STRAT
),
@PACK
"""
    .replace("@COMPONENTS", _COMPONENT_CTES)
    .replace("@STRAT", STRAT_PRED_SQL)
    .replace("@PACK", PACK_SQL.replace("@SRC", "sampled"))
)


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over embeddings: L2 norm via
    aggregate(zip) — JVM-side, no Python (§2.3 array family)."""
    emb = load(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.groupBy("label").agg(
        F.round(F.avg(F.sqrt(sq)), 4).alias("avg_l2_norm"),
        F.count("*").alias("n_vecs"),
    )


SQL_EMB_NORMS = """
SELECT label,
       ROUND(AVG(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS avg_l2_norm,
       COUNT(*) AS n_vecs
FROM embeddings GROUP BY label
"""


# Row cap on one cosine_pairs group (10x sf0.1's 2,000 embeddings): past
# it, one worker's block x n slabs (~330 MB per float64 temporary at 20k
# rows) and its O(n^2) matmul stop being a correctness-harness cost.
# Failing fast beats a worker OOM; scale runs use the IVF path.
EXACT_COS_MAX_ROWS = 20_000


def spark_round4(x):
    """Spark's ``F.round(x, 4)`` over a float64 ndarray: HALF_UP on the
    double's shortest decimal repr. ``floor(x*1e4 + 0.5)`` agrees except
    near 4-decimal midpoints (the product rounds in binary, 0.00015 ->
    0.0001; negatives round up), so those are rounded in decimal."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    s = x * 1e4
    out = np.floor(s + 0.5) / 1e4
    for i in zip(*np.nonzero(np.abs(s - np.floor(s) - 0.5) < 1e-6)):
        d = Decimal(repr(float(x[i]))).quantize(Decimal("1e-4"), ROUND_HALF_UP)
        out[i] = float(d)
    return out


def cosine_pairs(
    df: DataFrame, key: str, tau: float, gate_rounded: bool, block: int = 2048
) -> DataFrame:
    """THE embedding cosine-pair kernel: every within-group pair
    (v1 < v2, cos) of ``df``'s (vec_id, v array<double>) rows, grouped by
    ``key``. The exact twin runs it over one group; the IVF path over
    IVF cells. gate_rounded=False filters the
    UNROUNDED ratio >= tau (the embedding_near_dup pin); gate_rounded=True
    filters round(raw, 4) >= tau (the ANN gate). Only the rounded gate is
    invariant to grouping: the raw ratio can move by an ulp with the slab
    a pair lands in.

    Shape: one vectorized NumPy matmul per group (applyInPandas), each
    group sorted by vec_id, ``dot / outer(|a|, |b|)`` in ``block``-row
    slabs (peak extra memory block x n doubles, never n^2) as the DuckDB
    twins compute it, rounded by ``spark_round4``. It replaced a group
    self-join with an interpreted per-pair dot product (sf0.1: exact twin
    46.9 s -> 0.54 s at the ANN gate; IVF path 14.5 s -> 2.95 s).

    A group above EXACT_COS_MAX_ROWS fails fast. Group width is bounded
    by the CALLER's config, not automatically: IVF_K must grow ~sqrt(n)
    so cells stay small — the module constant (K=64) is sized for the
    sandbox corpora, and at 10^8+ vectors a cell left at it hits the
    cap."""
    import numpy as np
    import pandas as pd

    BLOCK = int(block)
    TAU = float(tau)
    GATE_ROUNDED = bool(gate_rounded)
    MAX_ROWS = EXACT_COS_MAX_ROWS

    def group_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > MAX_ROWS:
            raise ValueError(
                f"cosine_pairs: {n} embeddings in one group exceed the cap "
                f"EXACT_COS_MAX_ROWS={MAX_ROWS}; use the IVF path or "
                "raise IVF_K"
            )
        # deterministic intra-group order: the emitted (v1 < v2) pairing
        # must not depend on the arrival order of the group's rows
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        if n < 2:
            return pd.DataFrame({"v1": [], "v2": [], "cos": []}).astype(
                {"v1": "int64", "v2": "int64", "cos": "float64"}
            )
        M = np.array(pdf["v"].tolist(), dtype=np.float64)
        nrm = np.sqrt((M * M).sum(axis=1))
        ids = pdf["vec_id"].to_numpy()
        o1, o2, oc = [], [], []
        for r0 in range(0, n, BLOCK):
            r1 = min(r0 + BLOCK, n)
            raw = (M[r0:r1] @ M[r0:].T) / np.outer(nrm[r0:r1], nrm[r0:])
            cos = spark_round4(raw)
            keep = (cos >= TAU) if GATE_ROUNDED else (raw >= TAU)
            bi, bj = np.nonzero(keep)
            gi, gj = bi + r0, bj + r0
            m = gj > gi  # strict upper triangle of the (block x tail) slab
            gi, gj = gi[m], gj[m]
            o1.append(ids[gi])
            o2.append(ids[gj])
            oc.append(cos[bi[m], bj[m]])
        return pd.DataFrame(
            {
                "v1": np.concatenate(o1),
                "v2": np.concatenate(o2),
                "cos": np.concatenate(oc),
            }
        )

    return df.groupBy(key).applyInPandas(
        group_pairs, "v1 bigint, v2 bigint, cos double"
    )


def exact_cos_pairs(
    spark: SparkSession, sf_dir: str, tau: float, gate_rounded: bool
) -> DataFrame:
    """THE pinned exact all-pairs cosine twin, shared by every consumer
    (q_embedding_near_dup, q_embedding_dedup_keep's pair graph, and the
    checked-ANN exact side in queries_ml) so the construction cannot
    drift between them (code-review r4 — it was hand-copied 3x):
    ``cosine_pairs`` over the whole table as one group. O(n^2) BY DESIGN —
    correctness-harness scale only; IVF is the scale path."""
    emb = load(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    v = emb.select("vec_id", dvec.alias("v"), F.lit(0).alias("g"))
    return cosine_pairs(v, "g", tau, gate_rounded)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (cos >= 0.35 — the top ~0.1% of the pair-similarity distribution in this corpus, which contains no true dups; threshold is data-calibrated): the oracle-
    checked baseline for the IVF-bucketed variant (queries_ml
    q_ann_ivf_cosine). Quadratic by design — at scale the IVF path
    replaces the cross join; this one pins the semantics."""
    return exact_cos_pairs(spark, sf_dir, 0.35, gate_rounded=False)


# SQL_EMB_NEAR_DUP is defined with the shared COS_* fragment block above
# q_embedding_dedup_keep (module-order constraint: the dedup-keep SQL
# composes the same fragments at import time).


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 3):
    broadcast the tiny query side, JVM-side zip_with/aggregate dot product.
    The exact baseline for the IVF-bucketed ANN path (queries_ml).
    r6: base side spread — the interpreted HOF dot evaluates on the scan
    partitioning, a single task on the one-row-group sandbox table
    (no-op at scale; measured 0.57 -> 0.51 s noop)."""
    emb = load(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    base = spread(
        emb.select(F.col("vec_id").alias("nbr_id"), dvec.alias("v")), "nbr_id"
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), dvec.alias("q")
    )
    dot = F.aggregate(
        F.zip_with("q", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    pairs = (
        base.crossJoin(F.broadcast(qs))
        .filter(F.col("query_id") != F.col("nbr_id"))
        .withColumn("cos", F.round(dot / (nrm(F.col("q")) * nrm(F.col("v"))), 4))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), "nbr_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "nbr_id", "cos", "rk")
    )


SQL_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 3),
     pairs AS (
  SELECT q.query_id, e.vec_id AS nbr_id,
         ROUND(list_sum(list_transform(range(1, len(qv) + 1),
                    i -> qv[i] * CAST(e.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(qv, x -> x * x)))
              * sqrt(list_sum(list_transform(e.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
  FROM q CROSS JOIN embeddings e WHERE q.query_id <> e.vec_id
)
SELECT query_id, nbr_id, cos, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, nbr_id) AS rk
  FROM pairs
) WHERE rk <= 5
"""
