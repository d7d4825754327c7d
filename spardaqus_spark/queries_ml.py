"""Model-backed / sketch-based queries: the operators whose semantics are
not ANSI-SQL-expressible as computed (SURVEY.md §3.2).

- pipeline verdict over `documents` (hashed-trigram langid + ppl + rules);
- MinHash + LSH near-dup candidates (shingle -> minhash -> band -> bucket
  self-join) — the scale path whose exact baseline is
  queries_text.q_ngram_jaccard_pairs;
- IVF-bucketed approximate nearest neighbors — the scale path for
  queries_text.q_cosine_topk. It runs the exact twin's kernel,
  queries_text.cosine_pairs, per IVF cell instead of over one group,
  gated at ANN_TAU.

All sketches are computed with JVM-side functions where possible
(xxhash64 band hashes, the IVF codebook sample) — Python only where the
semantics demand vectorized NumPy (the pipeline models, minhash
signatures, the cosine matmul).

Most of this surface is oracle-checked all the same: the registered
minhash entry is the verified pipeline (candidates + exact-Jaccard
verification, hash-matched against an all-pairs exact oracle), the
registered ann entry is soundness-checked (exact-set ∪ violations vs
an exact-cosine oracle), and minhash signatures come from a zero-shuffle
vectorized kernel (kernels/minhash) after the JVM explode+agg form
measured as the path's floor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries_text import cosine_pairs, exact_cos_pairs, load

N_HASHES = 16  # minhash permutations
N_BANDS = 4    # 4 rows/band -> candidates at J ~ 0.6+


def _shingle_array(df: DataFrame, k: int = 5) -> DataFrame:
    """doc_id, sh(array<string>): DISTINCT k-char shingles of normalized
    text as a per-doc array — THE single shingle-universe construction
    (norm regex + substr positions + distinct). _shingles explodes it;
    the verified minhash query joins it directly (r5) — a shingle re-pin
    edited here moves every consumer together (the band_frame lesson)."""
    norm = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    d = df.select("doc_id", norm.alias("t")).withColumn("n", F.length("t"))
    idx = F.sequence(F.lit(1), F.greatest(F.col("n") - k + 1, F.lit(1)))
    return d.select(
        "doc_id",
        F.array_distinct(
            F.transform(idx, lambda i: F.col("t").substr(i, F.lit(k)))
        ).alias("sh"),
    )


def _shingles(df: DataFrame, k: int = 5) -> DataFrame:
    """doc_id, shingle(string): exploded form of _shingle_array."""
    return _shingle_array(df, k).select(
        "doc_id", F.explode("sh").alias("shingle")
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id, sig: array<bigint> of N_HASHES min-hashes — ZERO shuffles
    (r4). One streaming mapInPandas computes every lane per doc with the
    vectorized kernel (kernels/minhash: flat uint32 view -> sliding
    5-char windows -> polynomial key -> SplitMix64 -> 16 independent
    multiply-shift lanes -> per-doc minimum.reduceat). The r1-r3 JVM form
    (shingle substr explode -> xxhash64 -> groupBy(doc_id) 16-way min agg)
    was the measured floor of the minhash path — sf0.1: 2.07 s of its
    2.5 s was the 1M-row explode, plus a full corpus-width shuffle for
    the agg; the kernel does the same work in ~0.4 s single-core and the
    shuffle disappears entirely (signatures become a narrow map, so at
    100 TB the only minhash shuffle left is the band-bucket join).
    Content crosses Arrow once per batch, transiently — NOT the 8x-bytes
    materialization that killed the r3 persist-barrier variant.
    Statistics re-calibrated sf0.01 (tests/test_recall.py): recall 1.0,
    precision 0.862 vs exact 5-char-shingle Jaccard >= 0.5."""
    import pandas as pd

    from .kernels import minhash as mh
    from .session import ship_package

    ship_package(docs.sparkSession)
    norm = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    # NULL text: drop the doc, matching the r1-r3 explode form (NULL
    # normalizes to NULL -> explode emitted nothing) — and matching the
    # verification side, where _shingles drops NULL docs too. Without the
    # filter a None reaches the kernel's .encode and kills the worker
    # (code-review r4; the synthetic corpora just happen to have no NULLs).
    d = docs.filter(F.col("text").isNotNull()).select("doc_id", norm.alias("t"))
    cols = ", ".join(f"h{i} bigint" for i in range(N_HASHES))

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sig = mh.signatures(pdf["t"].tolist())
            out = pd.DataFrame({"doc_id": pdf["doc_id"]})
            for i in range(N_HASHES):
                out[f"h{i}"] = sig[:, i]
            yield out

    agg = d.mapInPandas(fn, f"doc_id bigint, {cols}")
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(N_HASHES)]).alias("sig")
    )


def band_frame(sig: DataFrame) -> DataFrame:
    """(doc_id, sig) -> (doc_id, sig, band, bh): THE banding scheme —
    N_BANDS bands of N_HASHES/N_BANDS rows, band hash = xxhash64 over the
    band's signature lanes in lane order. One definition shared by the
    batch candidate path and streaming.minhash_candidate_stream
    (code-review r4: a re-pin edited in only one copy would silently
    bucket batch and streaming differently)."""
    rows_per_band = N_HASHES // N_BANDS
    return sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).alias("bh"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "sig", "e.band", "e.bh")


def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: band the signature, hash each band, self-join
    on (band, band_hash) — join fan-out is per-bucket, never all-pairs.
    (r4: renamed from q_minhash_lsh_pairs; the REGISTERED minhash query is
    now the verified form below, which feeds these candidates through an
    exact-Jaccard verification join — the canonical LSH pipeline shape —
    so the driver's DuckDB oracle can check every emitted pair. This raw
    candidate surface stays the recall/precision test target.)

    Estimator calibration (measured sf0.01 vs exact 5-char-shingle
    Jaccard >= 0.5): recall 1.0, precision 0.962. The r1 form hashed the
    shingle STRING per seed (xxhash64(s, i)), whose component hashes
    correlate across seeds — it inflated est_jaccard and emitted ~50x
    spurious candidates; the one-strong-hash + k-mix form fixes the
    statistics AND removes 15 O(len) string hashes per shingle."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sig = minhash_signatures(docs)
    # carry the full signature THROUGH the band explode: the bucket self-
    # join then yields (d1, d2, sig1, sig2) directly — the expensive
    # shingle->signature subtree is planned twice (once per join side)
    # instead of three times, and the two signature re-join shuffles
    # disappear. +128B/row of shuffle width for a whole stage less work.
    bands = band_frame(sig)
    # both self-join sides consume `bands`; persist so the shingle ->
    # 16-hash signature subtree (the expensive part) is computed once,
    # not once per side (VERDICT r01 re-planned-subtree fix).
    bands = bands.persist()
    a, b = bands.alias("a"), bands.alias("b")
    est = F.aggregate(
        F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(N_HASHES))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.sig").alias("sig1"),
            F.col("b.sig").alias("sig2"),
        )
        # r6 (opt guide §2.3 — filter before the exchange): est is a pure
        # function of (sig1, sig2), identical for every band a pair
        # collides in, so gating BEFORE dropDuplicates changes nothing in
        # the output while the dedup exchange now carries only pairs that
        # survive the est gate (narrow (d1,d2,est) rows, no sig arrays).
        # Verified equal at sf0.1 (532 pairs); measured 1.01 -> 0.93 s.
        .withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= 0.5)
        .dropDuplicates(["d1", "d2"])
        .select("d1", "d2", "est_jaccard")
    )


MINHASH_TAU = 0.5  # exact-Jaccard keep threshold (same as the est gate)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, VERIFIED — the full canonical pipeline:
    banded-LSH candidate generation (q_minhash_lsh_candidates) followed by
    an exact 5-char-shingle Jaccard verification join restricted to the
    candidate pairs (linear in candidates, never all-pairs — the standard
    production shape: sketches propose, exact similarity disposes).

    Driver-checkable (r4, VERDICT r03 item 4): output = candidates with
    exact Jaccard >= MINHASH_TAU, so a hash-match against the DuckDB
    all-pairs exact oracle (SQL_MINHASH_VERIFIED) certifies BOTH soundness
    (no emitted pair below threshold — false positives are filtered here
    by construction, so a mismatch means a verification bug) AND full
    recall at the correctness scale (sf0.01 recall is exactly 1.0,
    measured and pinned by tests/test_recall.py; a parameter re-pin that
    drops recall below 1.0 at sf0.01 turns this driver row red, which is
    the intended tripwire — BASELINE.md "r5 update" has the triage note).
    At 100 TB the oracle side is infeasible by design — there the recall
    gate is statistical — but the Spark side scales: candidates are
    band-bucket-bounded and verification touches only candidate docs.

    Verification shape (r5, VERDICT r04 item 6): per-doc DISTINCT shingle
    ARRAYS (the same array_distinct(transform(...)) expression _shingles
    explodes, minus the explode) joined onto the tiny candidate pair
    list, with |intersection| via array_intersect. vs the r4 exploded
    form (shingle rows -> join on (d2, shingle) -> groupBy pair), this
    removes THREE shuffles whose width was O(candidate_docs x
    shingles_per_doc) exploded rows — what remains shuffles only
    O(candidate_docs) array rows and O(candidates) pairs, the 100 TB
    bottleneck the verdict named. Output is bit-identical (25/25 sf0.01
    pairs) because the shingle universe is the same distinct string set;
    measured sf0.1 wall time is a wash on this host (2.92 s vs 2.93 s
    warm — the candidates subtree dominates locally), the win is the
    shuffle-volume shape, not local seconds (BENCH/BASELINE.md r5)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # candidates feed THREE consumers below (two cand_docs legs + the
    # verification join) — persist the tiny pair list so the signature
    # kernel + band join subtree is computed once, not three times.
    # Cache lifetime note (code-review r4): like the bands persist inside
    # the candidates subtree, this is keyed by logical plan — repeated
    # invocations of the same (query, sf) REUSE the one cache entry, so a
    # long-lived session (the driver harness runs 50 queries in one) holds
    # at most one copy of each small subtree; bench clearCache()s between
    # passes. An in-query unpersist would have to fire before the caller's
    # action and would defeat the sharing.
    cand = q_minhash_lsh_candidates(spark, sf_dir).select("d1", "d2").persist()
    # shingle ONLY the docs that appear in some candidate pair (semi-join
    # prune): verification work scales with the candidate set, not the
    # corpus. Shingles stay an ARRAY per doc — same normalize + substr
    # positions as _shingles, same distinct string universe.
    cand_docs = (
        cand.select(F.col("d1").alias("doc_id"))
        .unionByName(cand.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    # arr feeds both pair-join sides — persist so the semi-join +
    # shingle-array subtree computes once (the multi-consumer lesson);
    # the cache holds candidate docs only. _shingle_array is THE pinned
    # universe shared with the exploded _shingles consumers.
    arr = _shingle_array(
        docs.join(cand_docs, "doc_id", "left_semi")
    ).persist()
    a1 = arr.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    a2 = arr.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    j = cand.join(a1, "d1").join(a2, "d2")
    inter = F.size(F.array_intersect("sh1", "sh2"))
    # divisor >= 1 by construction (every doc has >= 1 shingle) — ANSI-safe
    raw_j = inter / (F.size("sh1") + F.size("sh2") - inter)
    return (
        j.withColumn("raw_j", raw_j)
        .filter(F.col("raw_j") >= MINHASH_TAU)  # threshold UNROUNDED, like the SQL
        .select("d1", "d2", F.round("raw_j", 4).alias("jaccard"))
    )


# Exact all-pairs 5-char-shingle Jaccard — the independent DuckDB twin of
# the verified minhash output. Shingle construction mirrors _shingles
# exactly: normalize \s+ -> ' ', lowercase, k=5 substrings at positions
# 1..greatest(n-4, 1), DISTINCT per doc (the same \s parity argument as
# SQL_NGRAM_JACCARD, which hash-matches on this corpus). Probed sf0.01:
# 102,511 shingle rows, join cost sum(df^2) = 15.6M, 25 pairs, ~2s.
SQL_MINHASH_VERIFIED = r"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(regexp_replace(lower(text), '\s+', ' ', 'g')) - 4, 1) + 1),
             i -> substr(regexp_replace(lower(text), '\s+', ' ', 'g'), i, 5)
           )) AS shingle
    FROM documents
  )
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= @TAU
""".replace("@TAU", str(MINHASH_TAU))


# The ANN gate: the IVF path and its checked exact side filter
# round(cos, 4) >= ANN_TAU through queries_text.cosine_pairs.
ANN_TAU = 0.3


def q_pipeline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: run the REAL quality pipeline's DAG
    (``pipeline.build_verdict_frame``: sha2, the content-hash dedup window,
    then the fused ``stages.score_scrub`` kernel) over `documents` as the
    corpus analog, and aggregate the rules' verdict (``rule_keep``) per
    predicted language. The dedup exchange repartitions the one-row-group
    sandbox table, so the kernel runs on every core without a ``spread``.
    Model-backed -> rows-only driver check; exact equality vs the pandas
    oracle is enforced separately in tests/test_pipeline_oracle.py."""
    from .config import default_config
    from .pipeline import build_verdict_frame
    from .session import ship_package

    ship_package(spark)  # driver-owned sessions may lack our PYTHONPATH
    docs = load(spark, sf_dir, "documents")
    corpus = docs.select(
        F.concat(F.lit("src/"), F.col("source")).alias("repo"),
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )
    v = build_verdict_frame(corpus, default_config())
    return (
        v.groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("rule_keep").cast("bigint")).alias("n_keep"),
            F.round(F.avg("ppl"), 2).alias("avg_ppl"),
        )
        .orderBy("lang_pred")
    )


IVF_K = 64       # fixed centroid count — O(K) driver memory at ANY corpus size
IVF_NPROBE = 4   # each vector lands in its 4 nearest cells; pairs dedup after
IVF_REFINE = 1   # Lloyd iterations refining the hash-sampled codebook


def q_ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate NN (the ANN scale path): a FIXED-K
    deterministic coarse codebook (global top-K by xxhash64(vec_id) —
    TakeOrderedAndProject, so only K rows ever reach the driver
    regardless of corpus size), batch NumPy matmul
    assigns each vector to its IVF_NPROBE nearest centroid cells, exact
    cosine runs only WITHIN cells. At corpus scale the cell join replaces
    the full cross join; driver memory is O(K), never O(n).

    Measured recall@probe on sf0.01 (500 vecs, dim 64) vs the exact
    cos>=0.35 baseline (271 true pairs), 1 Lloyd refinement unless noted
    — near-uniform synthetic embeddings, IVF's worst case (no cluster
    structure for the codebook to exploit; clustered real corpora recall
    far higher per probe):

        nprobe=2: 0.557      nprobe=4, refine=0: 0.705
        nprobe=3: 0.720      nprobe=4 (PINNED):  0.845
        nprobe=6: 0.937      nprobe=4, refine=2: 0.852

    Gated at recall >= 0.7 by tests/test_recall.py. Candidate volume
    stays cell-bounded at any setting: expected pairs ~ n^2*nprobe^2/(2K)
    vs n^2/2 all-pairs — at production scale K grows ~sqrt(n) so the
    per-cell exact-cosine work stays constant per vector."""
    assigned = _ivf_assign(spark, sf_dir)

    # Within-cell exact cosine: the shared per-group matmul kernel. Cell
    # width is bounded by design (K ~ sqrt(n) at scale), so per-group
    # memory is O(sqrt(n) * dim).
    return (
        cosine_pairs(assigned, "cell", ANN_TAU, gate_rounded=True)
        # nprobe>1 means a pair can meet in up to nprobe shared cells
        .dropDuplicates(["v1", "v2"])
    )


def _ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF codebook + assignment stage, exposed separately (r4) so the
    candidate-volume gate in tests/test_recall.py can bound GENERATED
    candidates (sum over cells of n_c*(n_c-1)/2 from this frame) rather
    than emitted pairs after the cosine filter (ADVICE r03: a degenerate
    codebook funnelling everything into shared cells would do near
    all-pairs exact work yet still pass a post-filter bound). Returns
    (vec_id, v, cell) with each vector in its IVF_NPROBE nearest cells."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    v = emb.select("vec_id", dvec.alias("v"))

    # deterministic fixed-K sample: hash-order the ids, take the first K.
    # Spark plans this as TakeOrderedAndProject: each task keeps its local
    # top-K, the driver merges K rows per partition — no O(n) collect.
    cents = (
        v.withColumn("h", F.xxhash64("vec_id"))
        .orderBy("h")
        .limit(IVF_K)
        .select("v")
        .collect()
    )
    C = np.array([r["v"] for r in cents], dtype=np.float64)
    C_norm = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    # Lloyd refinement (IVF training): assign every vector to its nearest
    # cell, replace each centroid with the normalized cell mean. Fully
    # distributed — one mapInPandas assign + one applyInPandas per-cell
    # mean per iteration; only the K mean vectors reach the driver.
    # Measured on sf0.01 at nprobe=4: recall 0.705 -> 0.845 after 1
    # iteration at near-unchanged candidate volume (673 -> 776).
    for _ in range(IVF_REFINE):
        bc_it = spark.sparkContext.broadcast(C_norm)

        def assign1(batches):
            Cn = bc_it.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.array(pdf["v"].tolist(), dtype=np.float64)
                Mn = M / np.maximum(
                    np.linalg.norm(M, axis=1, keepdims=True), 1e-12
                )
                yield pd.DataFrame(
                    {
                        "cell": np.argmax(Mn @ Cn.T, axis=1).astype(np.int32),
                        "v": pdf["v"],
                    }
                )

        def cell_mean(pdf):
            M = np.array(pdf["v"].tolist(), dtype=np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            m = Mn.mean(axis=0)
            m = m / max(np.linalg.norm(m), 1e-12)
            return pd.DataFrame(
                {"cell": [int(pdf["cell"].iloc[0])], "v": [m]}
            )

        means = (
            v.mapInPandas(assign1, "cell int, v array<double>")
            .groupBy("cell")
            .applyInPandas(cell_mean, "cell int, v array<double>")
            .collect()
        )
        for r in means:  # empty cells keep their previous centroid
            C_norm[r["cell"]] = np.asarray(r["v"], dtype=np.float64)

    bc = spark.sparkContext.broadcast(C_norm)

    def assign(batches):
        Cn = bc.value
        nprobe = min(IVF_NPROBE, Cn.shape[0])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(pdf["v"].tolist(), dtype=np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            sims = Mn @ Cn.T
            # top-nprobe cells per vector (argpartition = O(K), not O(K log K))
            top = np.argpartition(-sims, nprobe - 1, axis=1)[:, :nprobe]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nprobe),
                    "v": np.repeat(pdf["v"].to_numpy(), nprobe),
                    "cell": np.sort(top, axis=1).ravel().astype(np.int32),
                }
            )

    return v.mapInPandas(assign, "vec_id bigint, v array<double>, cell int")


def q_ann_ivf_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing form of the IVF-flat ANN surface, a one-sided
    soundness harness (VERDICT r03 item 4): runs the FULL approximate
    pipeline (q_ann_ivf_cosine — codebook, Lloyd refinement, nprobe
    assignment, per-cell matmul) and outputs the exact pair set at the
    ANN gate (queries_text.exact_cos_pairs) PLUS any approximate pair that
    is not in it. When the ANN path is sound (emitted subset of exact —
    true by construction, since it computes exact cosine within cells and
    gates at the same threshold), the union IS the exact set and the
    driver's DuckDB hash-match goes green; any unsound emitted pair (a
    cell-assignment / matmul / rounding bug) surfaces as an extra row and
    breaks the row count + hash. Recall stays gated locally
    (tests/test_recall.py) — missed pairs are invisible here by design."""
    exact = exact_cos_pairs(spark, sf_dir, ANN_TAU, gate_rounded=True)
    violations = (
        q_ann_ivf_cosine(spark, sf_dir)
        .select("v1", "v2", "cos")
        .join(exact.select("v1", "v2"), ["v1", "v2"], "left_anti")
    )
    return exact.unionByName(violations)


# Independent DuckDB exact-cosine twin at the ANN gate of the checked IVF
# entry, built from the ONE pinned template (queries_text.COS_PAIRS_SQL).
# Gate on
# ROUND(raw, 4) >= ANN_TAU to mirror cosine_pairs' rounded gate
# exactly (probed: no midpoint or cut-boundary pairs at sf0.01).
from .queries_text import COS_PAIRS_SQL as _COS_PAIRS_SQL  # noqa: E402

SQL_ANN_CHECKED = _COS_PAIRS_SQL.replace(
    "@GATE", f"ROUND(raw, 4) >= {ANN_TAU}"
)
