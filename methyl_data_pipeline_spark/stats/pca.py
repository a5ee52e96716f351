"""PCA over the long fact table (reference M1, SURVEY §2.10).

The reference transposes the wide matrix and runs ``prcomp(t(mvals))``
(``workflow.R:218`` ×6) or sklearn PCA after StandardScaler
(``analysis/pca_analysis.py:37-48``): samples are observations (n =
10²-10³), probes are features (d = 10⁵-10⁶). That shape dictates the
algorithm at scale:

- a pivot to d columns is infeasible (SURVEY §7.3 #2);
- ``ml.feature.PCA`` materializes the d×d covariance (16k probes ⇒
  2 GB dense + an O(d³) eigensolve — found the hard way at sf0.1);
- the **n×n Gram trick** is exact and d-scalable: center per probe,
  K[s1,s2] = Σ_probes v_c(s1)·v_c(s2) — ONE self-join + groupBy
  shuffle keyed on probe, output n² cells; eigendecompose the tiny K
  driver-side. From X_c = U S Vᵀ, K = U S² Uᵀ, so sample scores
  U·S come straight from K's eigenvectors — identical to prcomp's
  ``$x`` up to component sign.

``assemble_sample_vectors`` remains for operators that genuinely need
per-sample vectors (clustering, small-d models).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def assemble_sample_vectors(
    long_df: DataFrame, value_col: str = "mval", key_col: str = "probe_id",
    sample_col: str = "sample_id",
) -> DataFrame:
    """(sample_id, features: Vector) with a consistent probe ordering.

    Probes missing for a sample would silently misalign the dense
    vector, so assembly asserts completeness by construction: rows are
    restricted to probes observed in every sample (semi-join), matching
    the reference's complete-cases precondition for prcomp.
    """
    from pyspark.ml.functions import array_to_vector

    n_samples = long_df.select(sample_col).distinct().count()
    complete = (
        long_df.filter(F.col(value_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(value_col).alias("_n"))
        .filter(F.col("_n") == n_samples)
        .select(key_col)
    )
    idx = complete.withColumn(
        "_pidx", F.row_number().over(Window.orderBy(key_col)) - 1
    )
    return (
        long_df.join(idx, key_col)
        .groupBy(sample_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pidx"), F.col(value_col).alias("_v")))
            ).alias("_pairs")
        )
        .withColumn("features", array_to_vector(F.expr("transform(_pairs, p -> p._v)")))
        .drop("_pairs")
    )


def _centered(long_df: DataFrame, value_col: str, key_col: str, sample_col: str,
              scale: bool) -> DataFrame:
    """Complete-cases restriction + per-probe centering (and optional
    scaling): the distributed half of prcomp/StandardScaler.

    The expected-sample count enters as a lazy 1-row broadcast
    (scalar countDistinct subplan), not an eager ``distinct().count()``
    driver action — the whole centering stays one Catalyst plan. The
    per-probe stats join is broadcast: probe stats are dimension-
    bounded (~10⁶ rows ≈ tens of MB) while the fact side is the
    100 TB axis that must not shuffle.

    PRECONDITION: input is at the model.METH_SCHEMA grain — one row
    per (probe, sample). The completeness gate compares a row count to
    the distinct-sample count, so duplicate (probe, sample) rows would
    both distort the gate and double-count in the Gram sums; dedup
    (operators.qc.dedup_samples / ext.dedup) upstream if the grain is
    not guaranteed."""
    n_df = long_df.select(F.countDistinct(sample_col).alias("_ns"))
    stats = (
        long_df.filter(F.col(value_col).isNotNull())
        .groupBy(key_col)
        .agg(
            F.count(value_col).alias("_n"),
            F.avg(value_col).alias("_m"),
            F.stddev_samp(value_col).alias("_sd"),
        )
        .join(F.broadcast(n_df), F.col("_n") == F.col("_ns"))
    )
    if scale:
        stats = stats.filter(F.col("_sd") > 0)
    out = long_df.join(F.broadcast(stats.drop("_ns")), key_col).withColumn(
        "_vc", F.col(value_col) - F.col("_m")
    )
    if scale:
        out = out.withColumn("_vc", F.col("_vc") / F.col("_sd"))
    return out.select(key_col, sample_col, "_vc")


def _normalize_signs(scores) -> None:
    """In-place per-component sign normalization: first sample's (row
    order = sorted sample ids) nonzero score is non-negative —
    deterministic across partitionings and BLAS builds."""
    for j in range(scores.shape[1]):
        col = scores[:, j]
        pivot = next((x for x in col if abs(x) > 1e-12), 1.0)
        if pivot < 0:
            scores[:, j] = -col


def gram_matrix(
    long_df: DataFrame,
    value_col: str = "mval",
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
    scale: bool = False,
) -> DataFrame:
    """The deterministic distributed prefix of the Gram-trick PCA:
    complete-cases + per-probe centering, then K[s1,s2] = Σ_probes
    vc(s1)·vc(s2) via ONE probe-keyed self-join shuffle (upper
    triangle, s1 <= s2). Everything downstream (the n×n eigensolve) is
    driver-side NumPy; everything here is plain relational algebra —
    which is what makes PCA's heavy lifting oracle-checkable the same
    way ``combat_priors`` anchors ComBat's EB fit."""
    from methyl_data_pipeline_spark import cache

    # Persisted: both sides of the probe-keyed self-join consume the
    # centered frame — uncached, the per-probe stats aggregate and the
    # centering join evaluate once PER SIDE (r14 plan read: the full
    # stats Exchange appears twice, no ReusedExchange). Rows are
    # (key, sample, value) — fact-sized but 3 narrow columns, the
    # standard reuse-vs-recompute trade (guide §5).
    centered = cache.track(
        _centered(long_df, value_col, key_col, sample_col, scale)
    )
    a = centered.select(
        key_col, F.col(sample_col).alias("s1"), F.col("_vc").alias("_v1")
    )
    b = centered.select(
        key_col, F.col(sample_col).alias("s2"), F.col("_vc").alias("_v2")
    )
    return (
        a.join(b, key_col)
        .filter(F.col("s1") <= F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.sum(F.col("_v1") * F.col("_v2")).alias("gram"))
    )


def gram_matrix_blocked(
    long_df: DataFrame,
    value_col: str = "mval",
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
    scale: bool = False,
) -> DataFrame:
    """100 TB scale-path twin of :func:`gram_matrix`: identical output
    grid (s1 <= s2, same centering), different physical plan.

    The exact twin's probe-keyed self-join shuffles O(probes · n²)
    rows — right for oracle replay, quadratic-in-samples at scale. This
    path instead (a) pivots each complete-case probe's centered values
    into one sample-ordered array (ONE data-sized shuffle, rows =
    probes), then (b) accumulates the n×n partial Gram ``Vᵀ·V`` per
    Arrow batch in NumPy (BLAS syrk-shaped, zero per-pair rows) and
    (c) sums the partials — n²-sized traffic regardless of corpus
    size. Float caveat: partial-sum order differs from the self-join's
    shuffle order, so agreement with the exact twin is tolerance-level
    (ulp-accumulation), not bitwise — which is why the ORACLE query
    stays on the exact twin and this is the deployment path.
    """
    centered = _centered(long_df, value_col, key_col, sample_col, scale)
    return blocked_crossprod(centered, "_vc", key_col, sample_col)


def blocked_crossprod(
    df: DataFrame,
    value_col: str,
    key_col: str,
    sample_col: str,
) -> DataFrame:
    """The blocked partial-XᵀX kernel shared by
    :func:`gram_matrix_blocked` (per-probe-centered values → PCA Gram)
    and ``operators.qc.sample_correlation_blocked`` (per-sample
    z-scores → Pearson numerators): given complete-case long rows
    (key, sample, value), emit ``(s1, s2, gram)`` for the upper
    triangle of Σ_keys v(s1)·v(s2).

    One data-sized shuffle pivots each key's values into a globally
    sample-ordered dense vector; each Arrow batch accumulates its n×n
    partial in NumPy (BLAS-shaped, zero per-pair rows); the n²-sized
    partials sum in one tiny exchange — traffic independent of corpus
    size. Requires complete cases: every key must carry ALL n samples
    (enforced with a hard error, not silent misalignment).
    """
    import pandas as pd

    samples = [
        r[0] for r in df.select(sample_col).distinct().orderBy(sample_col).collect()
    ]
    n = len(samples)
    # per-key dense vector, globally sample-ordered; complete-cases
    # guarantee makes every array length exactly n
    vecs = (
        df.groupBy(key_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(sample_col).alias("s"), F.col(value_col).alias("v"))
                )
            ).alias("_sv")
        )
        .select(F.transform("_sv", lambda x: x["v"]).alias("_vec"))
    )

    def partial_gram(batches):
        import numpy as np

        acc = np.zeros((n, n))
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = [list(v) for v in pdf["_vec"]]
            # validate lengths BEFORE asarray: a ragged batch would
            # build an object-dtype 1-D array, bypass a shape check,
            # and surface as an opaque numpy error in mat.T @ mat
            # instead of the hard error this docstring promises
            bad = next((len(r) for r in rows if len(r) != n), None)
            if bad is not None:
                raise ValueError(f"key vector length {bad} != n_samples {n}")
            mat = np.asarray(rows, dtype=np.float64)
            acc += mat.T @ mat
            seen = True
        if seen:
            iu = [(i, j) for i in range(n) for j in range(i, n)]
            yield pd.DataFrame(
                {
                    "i": [i for i, _ in iu],
                    "j": [j for _, j in iu],
                    "partial": [acc[i, j] for i, j in iu],
                }
            )

    parts = vecs.mapInPandas(partial_gram, "i int, j int, partial double")
    summed = parts.groupBy("i", "j").agg(F.sum("partial").alias("gram"))
    sample_arr = F.array(*[F.lit(s) for s in samples])
    return summed.select(
        F.element_at(sample_arr, F.col("i") + 1).alias("s1"),
        F.element_at(sample_arr, F.col("j") + 1).alias("s2"),
        "gram",
    )


def _gram_eigensolve(gram_rows):
    """Collect-side eigensolve shared by :func:`pca_scores` and
    :func:`pca_eigen_certificate` — the certificate's claim is that it
    runs the EXACT decomposition the scores path runs, so
    the block must not fork. Returns (samples, kmat, eigvals_desc,
    eigvecs_desc)."""
    import numpy as np

    samples = sorted({r["s1"] for r in gram_rows} | {r["s2"] for r in gram_rows})
    n = len(samples)
    sidx = {s: i for i, s in enumerate(samples)}
    kmat = np.zeros((n, n))
    for r in gram_rows:
        i, j = sidx[r["s1"]], sidx[r["s2"]]
        kmat[i, j] = kmat[j, i] = r["gram"]
    eigvals, eigvecs = np.linalg.eigh(kmat)  # ascending
    order = np.argsort(eigvals)[::-1]
    return samples, kmat, eigvals[order], eigvecs[:, order]


def pca_eigen_certificate(
    long_df: DataFrame,
    value_col: str = "mval",
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
    scale: bool = False,
) -> DataFrame:
    """Oracle-checkable CERTIFICATE for the Gram-path eigensolve (the
    only non-relational step of :func:`pca_scores`): run the exact
    decomposition that path runs, then emit per component ``j``::

        eigen_residual_j = max_i |K·v_j − λ_j·v_j|_i   (defining eqn)
        orth_residual_j  = max_i |(VᵀV − I)_{j,i}|     (orthonormality)
        trace            = Σ_j λ_j                      (spectrum mass)

    The residuals are ≲‖K‖·n·ε — exactly 0 at any sane rounding — and
    by the trace identity Σλ equals ``tr(K) = Σ_{probe,sample} vc²``,
    which a DuckDB oracle computes with plain SQL over the same
    centered values. Together with ``pca_gram`` (the input matrix is
    right) this pins the eigendecomposition: right equation, right
    basis, right total spectrum — closing M1's rows-only gap the same
    way ``combat_converged`` closes M2's.
    """
    import numpy as np

    gram_rows = gram_matrix(
        long_df, value_col=value_col, key_col=key_col,
        sample_col=sample_col, scale=scale,
    ).collect()
    samples, kmat, eigvals, eigvecs = _gram_eigensolve(gram_rows)
    n = len(samples)
    eig_resid = np.abs(kmat @ eigvecs - eigvecs * eigvals).max(axis=0)
    orth_resid = np.abs(eigvecs.T @ eigvecs - np.eye(n)).max(axis=1)
    trace = float(eigvals.sum())

    rows = [
        (j + 1, float(eig_resid[j]), float(orth_resid[j]), trace)
        for j in range(n)
    ]
    return long_df.sparkSession.createDataFrame(
        rows, "component long, eigen_residual double, orth_residual double, trace double"
    )


def pca_scores(
    long_df: DataFrame,
    k: int = 3,
    value_col: str = "mval",
    scale: bool = False,
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
) -> tuple[DataFrame, list[float]]:
    """Per-sample PCA scores (PC1..PCk) + explained-variance ratios.

    One strategy, the n×n Gram trick: :func:`gram_matrix` builds the
    upper triangle of K in one probe-keyed self-join shuffle (the plan
    the oracle-checked ``pca_gram`` query pins), the n(n+1)/2 cells are
    collected, and K is mirrored and eigendecomposed driver-side by
    :func:`_gram_eigensolve`. Exact, and the right call at the
    reference's n = 10²-10³ samples (134 in ``workflow.R``).

    ``scale=False`` = prcomp parity (center only, workflow.R:218);
    ``scale=True`` = sklearn/StandardScaler parity
    (analysis/pca_analysis.py:37-41). Component sign is normalized so
    the lexicographically-smallest sample has a non-negative score —
    deterministic across partitionings and BLAS builds.
    """
    import numpy as np

    gram_rows = gram_matrix(
        long_df, value_col=value_col, key_col=key_col,
        sample_col=sample_col, scale=scale,
    ).collect()
    samples, _kmat, eigvals, eigvecs = _gram_eigensolve(gram_rows)
    n = len(samples)
    eigvals = np.clip(eigvals, 0.0, None)
    k_eff = min(k, n - 1 if n > 1 else 1)
    scores = eigvecs[:, :k_eff] * np.sqrt(eigvals[:k_eff])
    _normalize_signs(scores)
    total_var = float(eigvals.sum()) or 1.0
    ev = [float(v) / total_var for v in eigvals[:k_eff]]

    spark = long_df.sparkSession
    rows = [
        (s, *[float(scores[i, j]) for j in range(k_eff)]) for i, s in enumerate(samples)
    ]
    out = spark.createDataFrame(
        rows, [sample_col] + [f"PC{j + 1}" for j in range(k_eff)]
    )
    return out, ev


def mds_coords(
    long_df: DataFrame,
    k: int = 2,
    ntop: int = 1000,
    value_col: str = "mval",
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
) -> DataFrame:
    """PCA variant C (reference M1: ``Mouse_Microarray_General_Workflow
    .R:69-73`` — limma ``plotMDS`` on the top-``ntop``-variance probes,
    gene.selection="common"): classical (Torgerson) multidimensional
    scaling of pairwise sample Euclidean distances.

    Distributed part: variance top-k (A1+W1) restricted to complete
    probes, then ONE probe-keyed self-join + groupBy producing the n²
    pairwise squared distances — same shuffle shape as the Gram trick
    above, so it scales in d (probes) and only the tiny n×n matrix is
    driver-side double-centered and eigendecomposed.
    """
    import numpy as np

    n_samples = long_df.select(sample_col).distinct().count()
    var_top = (
        long_df.filter(F.col(value_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(value_col).alias("_n"), F.var_samp(value_col).alias("_var"))
        .filter(F.col("_n") == n_samples)
        .orderBy(F.desc("_var"), key_col)
        .limit(ntop)
        .select(key_col)
    )
    sub = long_df.join(F.broadcast(var_top), key_col)
    a = sub.select(key_col, F.col(sample_col).alias("_s1"), F.col(value_col).alias("_v1"))
    b = sub.select(key_col, F.col(sample_col).alias("_s2"), F.col(value_col).alias("_v2"))
    d2_rows = (
        a.join(b, key_col)
        .groupBy("_s1", "_s2")
        .agg(F.sum(F.pow(F.col("_v1") - F.col("_v2"), 2)).alias("_d2"))
        .collect()
    )
    samples = sorted({r["_s1"] for r in d2_rows})
    n = len(samples)
    sidx = {s: i for i, s in enumerate(samples)}
    d2 = np.zeros((n, n))
    for r in d2_rows:
        d2[sidx[r["_s1"]], sidx[r["_s2"]]] = r["_d2"]

    # Torgerson double-centering: B = -1/2 · J D² J, J = I - 11ᵀ/n
    j = np.eye(n) - np.full((n, n), 1.0 / n)
    bmat = -0.5 * j @ d2 @ j
    eigvals, eigvecs = np.linalg.eigh(bmat)
    order = np.argsort(eigvals)[::-1]
    eigvals = np.clip(eigvals[order], 0.0, None)
    eigvecs = eigvecs[:, order]
    k_eff = min(k, n - 1 if n > 1 else 1)
    coords = eigvecs[:, :k_eff] * np.sqrt(eigvals[:k_eff])
    _normalize_signs(coords)

    spark = long_df.sparkSession
    rows = [
        (s, *[float(coords[i, jj]) for jj in range(k_eff)])
        for i, s in enumerate(samples)
    ]
    return spark.createDataFrame(
        rows, [sample_col] + [f"MDS{jj + 1}" for jj in range(k_eff)]
    )
