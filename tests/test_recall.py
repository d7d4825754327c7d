"""Estimator-quality gates for the sketch-based dedup paths (rows-only in
the driver harness, so their STATISTICS are pinned here instead): the
MinHash-LSH candidate generator must actually track exact shingle Jaccard.
This is the regression net for the r1->r2 fix where correlated per-seed
string hashes inflated est_jaccard ~50x (queries_ml.minhash_signatures)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spardaqus_spark import queries_ml as QM

SF_DIR = "/root/testdata/sf0.01"


def _exact_pairs(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    sh = QM._shingles(docs)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ex = (
        inter.join(
            sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("s1")),
            "d1",
        )
        .join(
            sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("s2")),
            "d2",
        )
        .withColumn("j", F.col("i") / (F.col("s1") + F.col("s2") - F.col("i")))
        .filter(F.col("j") >= 0.5)
    )
    return {(r.d1, r.d2) for r in ex.select("d1", "d2").collect()}


def test_minhash_lsh_recall_and_precision(spark):
    exact = _exact_pairs(spark)
    assert len(exact) > 0, "vacuous: corpus has no J>=0.5 pairs"
    got = {
        (r.d1, r.d2)
        for r in QM.q_minhash_lsh_candidates(spark, SF_DIR)
        .select("d1", "d2")
        .collect()
    }
    recall = len(got & exact) / len(exact)
    precision = len(got & exact) / max(len(got), 1)
    # measured r2: recall 1.0, precision 0.962 — gate with slack for
    # future re-pins of N_HASHES/N_BANDS
    assert recall >= 0.9, f"recall {recall:.3f} ({len(exact)} true pairs)"
    assert precision >= 0.8, f"precision {precision:.3f} ({len(got)} candidates)"
    # r4: the REGISTERED minhash query (candidates -> exact-Jaccard
    # verification) must equal the exact pair set at this scale — that is
    # precisely the condition under which its DuckDB oracle hash-matches
    # at the driver, so pin it here with a readable failure first.
    verified = {
        (r.d1, r.d2)
        for r in QM.q_minhash_lsh_pairs(spark, SF_DIR).select("d1", "d2").collect()
    }
    assert verified == exact, (
        f"verified minhash != exact at sf0.01: missing {exact - verified}, "
        f"spurious {verified - exact} — the driver oracle row will go red"
    )


def test_ivf_recall_vs_exact_cosine(spark):
    """VERDICT r02 #3: IVF recall must be >= 0.7 at the published probe
    setting, measured against the exact cos>=0.35 baseline. Pinned r3
    setting nprobe=4, refine=1 measures 0.845 on sf0.01 (grid in the
    q_ann_ivf_cosine docstring); gate at 0.7 for parameter-re-pin slack.
    Candidate volume must also stay cell-bounded — far below all-pairs —
    or 'approximate' would be vacuous."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    a, b = v.alias("a"), v.alias("b")
    exact = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            (dot / (nrm(F.col("a.v")) * nrm(F.col("b.v")))).alias("cos"),
        )
        .filter(F.col("cos") >= 0.35)
    )
    true_pairs = {(r.v1, r.v2) for r in exact.collect()}
    assert len(true_pairs) > 0, "vacuous: no cos>=0.35 pairs"

    got = {
        (r.v1, r.v2)
        for r in QM.q_ann_ivf_cosine(spark, SF_DIR).select("v1", "v2").collect()
    }
    recall = len(got & true_pairs) / len(true_pairs)
    n = v.count()
    all_pairs = n * (n - 1) // 2
    assert recall >= 0.7, f"IVF recall {recall:.3f} ({len(true_pairs)} true)"
    # Candidate volume must be bounded PRE-filter (ADVICE r03): sum over
    # cells of n_c*(n_c-1)/2 from the assignment frame measures candidates
    # GENERATED — a degenerate codebook funnelling most vectors into shared
    # cells would do near all-pairs exact-cosine work yet still emit few
    # pairs past the cos>=0.3 gate, so the old post-filter bound was blind
    # to it. (Upper bound: pairs meeting in multiple probed cells count
    # once per shared cell here, so this over-counts — fine for a bound.)
    cell_sizes = (
        QM._ivf_assign(spark, SF_DIR).groupBy("cell").count().collect()
    )
    generated = sum(r["count"] * (r["count"] - 1) // 2 for r in cell_sizes)
    # Expected ratio for a healthy codebook ~ nprobe^2/K = 16/64 = 0.25 of
    # all-pairs at this sandbox K (at production K ~ sqrt(n) it shrinks to
    # ~nprobe^2/sqrt(n)); a degenerate codebook funnels everything into a
    # few cells and the ratio jumps to ~1-4. Gate midway at 0.5.
    assert generated < all_pairs * 0.5, (
        f"generated candidate volume {generated} not cell-bounded vs "
        f"{all_pairs} all-pairs (degenerate codebook?)"
    )


def test_group_cosine_blocking_invariant(spark):
    """The slab-blocked similarity matmul in QT.cosine_pairs must emit
    EXACTLY the pairs of the unblocked computation — block=3 forces many
    slab boundaries (incl. a ragged final slab) over one group. Under the
    rounded gate it must also be invariant to grouping: the same vectors
    split by vec_id % 3 emit exactly the one-group pairs whose two ends
    share a group, with identical cos (the ANN paths rely on this)."""
    import numpy as np
    import pandas as pd

    from spardaqus_spark import queries_text as QT

    rng = np.random.default_rng(7)
    n, dim = 40, 16
    V = rng.normal(size=(n, dim))
    # plant some high-cosine pairs so the >=0.3 filter is non-vacuous
    V[7] = V[3] + rng.normal(scale=0.05, size=dim)
    V[25] = V[11] + rng.normal(scale=0.05, size=dim)
    ids = np.arange(n, dtype="int64")
    pdf = pd.DataFrame({"vec_id": ids, "v": list(V), "g": 0, "g3": ids % 3})
    sdf = spark.createDataFrame(
        pdf.assign(v=pdf["v"].map(list)),
        "vec_id bigint, v array<double>, g int, g3 bigint",
    )

    def pairs(key, block):
        return {
            (r.v1, r.v2, r.cos)
            for r in QT.cosine_pairs(
                sdf, key, 0.3, gate_rounded=True, block=block
            ).collect()
        }

    blocked = pairs("g", 3)
    whole = pairs("g", 10_000)
    assert blocked == whole and len(whole) >= 2
    grouped = pairs("g3", 10_000)
    want = {p for p in whole if p[0] % 3 == p[1] % 3}
    assert grouped == want and len(want) >= 2


def test_embedding_dedup_keep_scale_composition(spark):
    """VERDICT r04 item 4: q_embedding_dedup_keep's docstring promises the
    pair source "swaps to the IVF candidates at scale — identical
    downstream composition". Prove the composition, not just the promise:
    run the SAME pairs -> connected_components -> keep-list chain over the
    IVF pair output and compare its keep-set to the exact one.

    Gates (calibrated at sf0.01 per the oracle-calibration workflow):
      * superset — IVF pairs are exact cosines computed within cells, so
        at MATCHED gates they are a SUBSET of the exact pair graph; fewer
        edges can only split components, and the global min of a
        component stays the min of any sub-component containing it, so
        every exactly-kept vector stays kept. This is structural (holds
        at any corpus size), hence asserted as an invariant, not a
        threshold. Matched gates matter: the emitted `cos` is HALF_UP
        rounded at 4 decimals, so the baseline is exact_cos_pairs with
        gate_rounded=True — vs the raw-gate twin, boundary pairs
        (raw in [0.34995, 0.35)) would add edges and break the superset
        (measured: it does, 2 extra losers at sf0.01).
      * keep-set Jaccard — how much over-keeping the recall loss costs.
        Measured at sf0.01: 0.858 (gate 0.8, recall-0.845 path)."""
    from spardaqus_spark import queries_text as QT
    from spardaqus_spark.operators.graphops import connected_components

    def keep_set(pairs):
        labels = connected_components(
            pairs.select("v1", "v2"), src="v1", dst="v2"
        )
        losers = labels.filter(F.col("v") != F.col("lbl")).select(
            F.col("v").alias("vec_id")
        )
        emb = QT.load(spark, SF_DIR, "embeddings").select("vec_id")
        return {
            r.vec_id
            for r in emb.join(losers, "vec_id", "left_anti").collect()
        }

    k_exact = keep_set(QT.exact_cos_pairs(spark, SF_DIR, 0.35, gate_rounded=True))
    assert 0 < len(k_exact) < 500, "vacuous exact keep-set"

    k_ivf = keep_set(
        QM.q_ann_ivf_cosine(spark, SF_DIR).filter(F.col("cos") >= 0.35)
    )
    assert k_ivf >= k_exact, (
        f"ivf: approximate keep-set lost {len(k_exact - k_ivf)} "
        "exactly-kept vectors — edge subset property violated"
    )
    jac = len(k_exact & k_ivf) / len(k_exact | k_ivf)
    assert jac >= 0.8, f"ivf: keep-set Jaccard {jac:.3f}"


def test_spark_round4_matches_f_round(spark):
    """The NumPy pair kernels round (and gate) cosines with
    ``spark_round4``, standing in for ``F.round(x, 4)``. They must agree
    bit for bit at every 4-decimal midpoint in [-1, 1], one ulp either
    side of it, and on a fine grid around both gates (0.3, 0.35): a
    midpoint is exactly where binary ``floor(x*1e4 + 0.5)`` and Spark's
    decimal HALF_UP part ways."""
    import numpy as np
    import pandas as pd

    from spardaqus_spark.queries_text import spark_round4

    mid = (np.arange(-10000, 10000) + 0.5) / 1e4
    near = np.concatenate(
        [t + np.arange(-200, 201) * 5e-7 for t in (0.3, 0.35)]
    )
    x = np.concatenate(
        [mid, np.nextafter(mid, 2), np.nextafter(mid, -2), near]
    )
    want = (
        spark.createDataFrame(pd.DataFrame({"i": np.arange(len(x)), "x": x}))
        .select("i", F.round("x", 4).alias("r"))
        .toPandas()
        .sort_values("i")["r"]
        .to_numpy()
    )
    got = spark_round4(x)
    bad = np.flatnonzero(got != want)
    assert bad.size == 0, [(x[i], got[i], want[i]) for i in bad[:5]]
    for tau in (0.3, 0.35):
        assert ((got >= tau) == (want >= tau)).all(), tau
    # the kernels round (block x n) slabs: 2-D indexing must agree too
    n = len(x) // 2 * 2
    assert (spark_round4(x[:n].reshape(2, -1)).ravel() == want[:n]).all()
