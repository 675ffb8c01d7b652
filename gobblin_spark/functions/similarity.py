"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed ANN.

Embeddings are ``array<float>`` columns. Two tiers:

- ``cosine_topk``: exact brute force — broadcast the (small) query set,
  one pass over the corpus computing dot products with higher-order
  array functions (zip_with + aggregate, JVM-side), per-query top-k via
  window. Cost O(|Q|·|C|·d) with NO shuffle of the corpus: the heavy
  side streams, the light side broadcasts. This is the correct exact
  plan at 100 TB as long as |Q| is bounded.
- ``lsh_cosine_topk``: approximate scale path — random-hyperplane LSH:
  sign-bit signature per vector, banded; candidates share a band bucket
  and are re-ranked exactly. Candidate generation is equality joins on
  band hashes (linear), so corpus×corpus near-dup search avoids the
  quadratic cross join.
- ``embedding_near_dup_pairs``: corpus self near-dup via the same LSH
  bucketing with exact cosine verification.

Hyperplanes are generated from a seeded NumPy RNG and shipped as plan
literals (a few KB) — deterministic across runs and engines.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from gobblin_spark.session import ensure_parallelism


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns (double,
    JVM-side). Zero-norm operands yield NULL (undefined similarity) —
    under ANSI mode the bare division would throw ArithmeticException
    on the first all-zero vector (audit r8); _rank_topk drops NULL
    scores."""
    d = _norm(a) * _norm(b)
    return F.when(d > 0, _dot(a, b) / d)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (brute force).

    Output: (query_id, neighbor_id, cosine, rank). Deterministic order:
    cosine desc, neighbor_id asc. The query side is broadcast — corpus
    is scanned once, never shuffled (ranking shuffles only |Q|·|C| slim
    rows of ids+scores, AQE-coalesced).
    """
    # norms precomputed PER ROW before the cross join: cosine() would
    # re-fold both norms per pair — 3d multiply-adds instead of d on
    # the dominant |Q|x|C| stage (audit r8). Same sqrt of the same
    # sums, so results are arithmetic-identical. The broadcast hint
    # goes ON TOP of the projection so join planning always sees it.
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
            _norm(F.col(vec_col)).alias("_qn"),
        )
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_cv"),
                      _norm(F.col(vec_col)).alias("_cn"))
    )
    pairs = q.crossJoin(c)
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    den = F.col("_qn") * F.col("_cn")
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.when(den > 0,
               _dot(F.col("_qv"), F.col("_cv")) / den).alias("_cos"),
    )
    return _rank_topk(scored, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def rh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane sign signature as array<int> of 0/1 bits."""
    plane_lits = F.array(
        *[F.array(*[F.lit(float(w)) for w in p]) for p in planes]
    )
    return F.transform(
        plane_lits,
        lambda p: F.when(_dot(vec, p) >= 0, F.lit(1)).otherwise(F.lit(0)),
    )


def _check_dim(df: DataFrame, vec_col: str, dim: int) -> None:
    """One-row guard: a wrong ``dim`` is catastrophic-but-silent —
    zip_with pads the shorter side with nulls, every plane dot goes
    null, all sign bits collapse to 0 and every vector lands in ONE
    band bucket (the exact quadratic blowup LSH exists to avoid)."""
    row = df.select(F.size(F.col(vec_col)).alias("_d")).limit(1).collect()
    if row and row[0]._d is not None and row[0]._d != dim:
        raise ValueError(
            f"dim={dim} but {vec_col!r} vectors have {row[0]._d} "
            "elements — signatures would silently degenerate")


def _banded(df: DataFrame, id_col: str, out_id: str, vec_col: str,
            planes: list[list[float]], bands: int) -> DataFrame:
    """(out_id, band, bhash) exploded band-bucket rows for one frame.
    The signature MATERIALIZES as a projected column first — an
    inline ``sig[i]`` per extracted bit re-evaluates all n_planes dot
    products per bit under the non-codegen HOF path (n_planes² · d
    multiply-adds per row instead of n_planes · d). Band hash inputs
    (xxhash64 over the band index + its sign bits) are unchanged from
    the historical layout, and this ONE implementation is shared by
    the top-k and near-dup operators so they can never bucket
    differently."""
    rows = len(planes) // bands
    staged = df.select(
        F.col(id_col).alias(out_id),
        rh_signature(F.col(vec_col), planes).alias("_sig"),
    )
    bh = F.array(
        *[
            F.xxhash64(
                F.lit(bi), *[F.col("_sig")[bi * rows + r]
                             for r in range(rows)]
            )
            for bi in range(bands)
        ]
    )
    return staged.select(out_id, F.posexplode(bh).alias("band", "bhash"))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The operator family's shared ranking contract: per-query
    row_number over (cosine DESC, neighbor_id ASC), keep rank <= k,
    round the cosine to 6 ONLY for display (after ranking)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        # a null cosine (zero-norm or malformed vector) must never
        # occupy a rank slot — better a short result than a phantom
        # neighbor (audit r8)
        scored.filter(F.col("_cos").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_cos"), 6).alias("cosine"),
            "rank",
        )
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: LSH band-bucket candidates, exact re-rank.

    Recall rises with bands (each band is an independent chance to
    collide); cost is candidates·d instead of |Q|·|C|·d.
    """
    if n_planes % bands:
        raise ValueError("n_planes must be divisible by bands")
    planes = _hyperplanes(dim, n_planes, seed)
    _check_dim(corpus, vec_col, dim)
    _check_dim(queries, vec_col, dim)  # audit r8: both sides degenerate

    # slim candidate generation: only ids ride the band shuffle; the
    # d-dim vectors are re-attached per surviving pair (same shuffle-
    # weight argument as minhash_lsh_pairs)
    wide_corpus = ensure_parallelism(corpus)
    qb = _banded(queries, id_col, "query_id", vec_col, planes, bands)
    cb = _banded(wide_corpus, id_col, "neighbor_id", vec_col, planes,
                 bands)
    cand = (
        qb.join(cb, ["band", "bhash"])
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    qv = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                    F.col(vec_col).alias("_qv")))
    cv = wide_corpus.select(F.col(id_col).alias("neighbor_id"),
                            F.col(vec_col).alias("_cv"))
    scored = (
        cand.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id",
                cosine(F.col("_qv"), F.col("_cv")).alias("_cos"))
    )
    return _rank_topk(scored, k)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Corpus self near-duplicates: cosine ≥ threshold, id_a < id_b.

    LSH buckets generate candidates; exact cosine verifies. High
    thresholds collide in most bands, so recall is high exactly where
    the operator is used (near-dup removal).
    """
    if n_planes % bands:
        raise ValueError("n_planes must be divisible by bands")
    planes = _hyperplanes(dim, n_planes, seed)
    _check_dim(corpus, vec_col, dim)
    wide = ensure_parallelism(corpus)
    banded = _banded(wide, id_col, "vid", vec_col, planes, bands)
    a = banded.select(F.col("vid").alias("id_a"), "band", "bhash")
    b = banded.select(F.col("vid").alias("id_b"), "band", "bhash")
    # ids-only band shuffle; vectors re-attached per surviving pair
    cand = (
        a.join(b, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = wide.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = wide.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    # threshold the UNROUNDED cosine: rounding first admits pairs up
    # to 5e-7 BELOW the threshold (display rounding happens after)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("_cos", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b",
                F.round(F.col("_cos"), 6).alias("cosine"))
    )


# ------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means cells + probe search
# ------------------------------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_centroids: int = 64,
    sample_rows: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Coarse quantizer for IVF: k-means on a bounded driver-side SAMPLE
    (n_centroids x dim floats — a few hundred KB — is inherently
    driver-sized; the full corpus never leaves the executors). Sampling +
    numpy Lloyd iterations is the standard IVF training recipe; the
    result ships to tasks as broadcast literals."""
    total = corpus.count()
    frac = min(1.0, (sample_rows * 1.2) / max(total, 1))
    sample = np.asarray(
        [r[0] for r in corpus.select(vec_col).sample(False, frac, seed)
         .limit(sample_rows).collect()],
        dtype=np.float64,
    )
    if len(sample) == 0:
        raise ValueError("empty corpus sample")
    k = min(n_centroids, len(sample))
    rng = np.random.default_rng(seed)
    cents = sample[rng.choice(len(sample), size=k, replace=False)]
    # cosine k-means: normalize, assign by dot product, re-mean
    def unit(m):
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return m / n

    s_unit = unit(sample)
    cents = unit(cents)
    for _ in range(iters):
        assign = np.argmax(s_unit @ cents.T, axis=1)
        for c in range(k):
            members = s_unit[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents = unit(cents)
    return np.round(cents, 6).tolist()


def _nearest_cells(vec: Column, centroids: list[list[float]], n: int) -> Column:
    """Indices of the *n* highest-dot-product centroids (array<int>).
    Centroids are plan literals; the argmax runs JVM-side per row.
    Ties break on the LOWEST cell index (negated-index sort member) —
    the same convention as kmeans_fit_predict and the repo's SQL
    oracles; a reversed ascending sort alone would break ties HIGH
    and silently diverge when duplicate centroids arise."""
    n_cells = len(centroids)
    cent_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    scored = F.transform(
        cent_lit,
        lambda c, i: F.struct(_dot(vec, c).alias("s"),
                              (F.lit(n_cells) - i).alias("negcell")),
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n)
    return F.transform(top, lambda t: F.lit(n_cells) - t["negcell"])


def ivf_assign(corpus: DataFrame, id_col: str, vec_col: str,
               centroids: list[list[float]]) -> DataFrame:
    """Build the inverted file: each corpus vector assigned to its
    nearest cell. Persist/bucket this by ``cell`` for reuse across query
    batches — assignment is one scan, no shuffle."""
    cell = _nearest_cells(F.col(vec_col), centroids, 1)[0]
    return corpus.select(id_col, vec_col, cell.alias("cell"))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 64,
    n_probe: int = 8,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into coarse cells; each
    query exactly re-ranks only its ``n_probe`` nearest cells.

    Cost per query drops from |C|·d to ~(n_probe/n_centroids)·|C|·d.
    The probe join is (cell = cell) with the query side broadcast —
    the inverted file streams, grouped by cell; recall is tunable via
    n_probe (n_probe == n_centroids degenerates to exact brute force)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, vec_col, n_centroids=n_centroids, seed=seed
        )
    # audit r8: a wrong-dim vector nulls every centroid dot, the
    # probe sort degenerates to cells 0..n_probe-1 and the caller gets
    # arbitrary neighbors with cosine=null — same silent class
    # _check_dim guards in the LSH path
    _check_dim(corpus, vec_col, len(centroids[0]))
    _check_dim(queries, vec_col, len(centroids[0]))
    inv = ivf_assign(ensure_parallelism(corpus), id_col, vec_col, centroids)
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(
            _nearest_cells(F.col(vec_col), centroids, n_probe)
        ).alias("cell"),
    )
    cand = F.broadcast(probes).join(
        inv.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("_cv"), "cell"),
        "cell",
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    # candidates are already unique — each corpus vector lives in
    # exactly ONE cell and the probe cells are distinct, so a
    # dropDuplicates here would be a dead full shuffle over the
    # scored candidate set
    scored = cand.select(
        "query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("_cos")
    )
    return _rank_topk(scored, k)


def semantic_dedup_survivors(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: near-duplicate pairs by
    embedding cosine (LSH candidates + exact verify), then greedy
    keep-the-min-id — every id that appears as the GREATER member of a
    near-dup pair is dropped.

    Greedy-by-id matches the common implementation (cluster, drop all
    but one exemplar above the threshold); it over-drops only on
    chains a<b<c where sim(a,b) and sim(b,c) but not sim(a,c) — the
    standard, documented approximation. Returns surviving (id) rows;
    anti-join keeps the corpus scan single-pass and the dropped-id set
    is a slim broadcastable column."""
    pairs = embedding_near_dup_pairs(
        corpus, id_col, vec_col, dim, threshold, n_planes, bands, seed)
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return corpus.select(id_col).join(dropped, id_col, "left_anti")


def kmeans_fit_predict(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iterations: int = 2,
    round_decimals: int = 9,
    _with_vectors: bool = False,
) -> DataFrame:
    """Distributed Lloyd's k-means over the FULL corpus (squared-L2),
    returning (id_col, cluster). The corpus-scale clustering step
    SemDeDup/semantic curation needs — unlike ``train_ivf_centroids``
    (a driver-side SAMPLE trainer for the IVF coarse quantizer), every
    assignment and every centroid update here is a distributed pass.

    Engine-portable determinism, so an external SQL engine reproduces
    the integer assignments exactly:
    - init = the vectors of the ``k`` smallest ids (no RNG);
    - assignment = argmin squared distance, ties broken on the lower
      cluster index (expressed as a lexicographic (dist, cid) sort);
    - each updated centroid coordinate is ``round(avg, 9)`` — far
      above double-summation noise (~1e-16 relative), far below any
      real coordinate difference, so cross-engine assignment flips
      cannot originate in the update step;
    - ``iterations`` counts ASSIGNMENT passes (update runs between
      them): assign -> update -> ... -> assign.
    - a cluster that loses all members simply vanishes from the next
      round's centroid list in both engines (no re-seeding — RNG-free
      beats cluster-count preservation for reproducibility).

    100 TB shape: centroids are k x dim doubles — inherently
    driver-sized (the classic Spark k-means contract); they ship to
    executors as plan literals. Per iteration: one narrow assignment
    pass (argmin over k literal centroids, pure codegen) + one
    (cluster, dim) groupBy whose shuffle carries k x dim x partitions
    partial means, never vectors. Raise k beyond literal-plan comfort
    (~thousands) and the assignment join flips to a broadcast table —
    same plan ivf_assign uses.
    """
    if iterations < 1:
        raise ValueError(
            "iterations counts ASSIGNMENT passes and must be >= 1")
    vecs = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_e"),
    ).persist()
    init = vecs.orderBy(id_col).limit(k).collect()  # bounded: k rows
    # (cid, coords) pairs — cids are STABLE across rounds even when a
    # cluster empties and drops out (no renumbering, matching the
    # oracle's behavior)
    cents = [(i, [float(x) for x in r["_e"]]) for i, r in enumerate(init)]

    def assign(cent_list):
        # ONE SQL string for the whole argmin: the Column-API build of
        # k fold expressions costs hundreds of py4j round trips (the
        # lambda plumbing) plus a slow resolution pass — 0.43 s per
        # assignment plan at k=8, dim=64 vs 0.12 s for a single
        # F.expr parse (A/B, values identical row-for-row). repr()
        # literals round-trip doubles exactly and the 'D' suffix pins
        # the SQL type to double, so the arithmetic is unchanged.
        # Non-finite components (a NaN in any input vector propagates
        # through avg) emit as CAST literals — repr() renders
        # nanD/infD, which is unparseable SQL (advice-r13).
        def _dlit(x: float) -> str:
            if math.isfinite(x):
                return f"{x!r}D"
            if math.isnan(x):
                return "CAST('NaN' AS DOUBLE)"
            return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"

        terms = []
        for cid, c in cent_list:
            arr = "array(" + ",".join(_dlit(x) for x in c) + ")"
            d = (f"aggregate(zip_with(_e, {arr}, "
                 f"(a, b) -> (a - b) * (a - b)), "
                 f"0.0D, (acc, x) -> acc + x)")
            terms.append(f"struct({d} AS d, {int(cid)} AS cid)")
        best = F.expr(f"array_sort(array({','.join(terms)}))[0].cid")
        return vecs.select(id_col, best.alias("cluster"), "_e")

    for _ in range(iterations - 1):
        # the update consumes (cluster, vector) straight off the
        # assignment projection — a narrow map over the persisted
        # vecs — instead of joining the (id, cluster) table back onto
        # vecs by id (one broadcast join per iteration removed; guide
        # §2.1, same values by construction)
        upd = (
            assign(cents)
            .select("cluster", F.posexplode("_e").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg("val"), round_decimals).alias("val"))
            .collect()  # bounded: k x dim rows
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in upd:
            by_cid.setdefault(r["cluster"], {})[r["dim"]] = r["val"]
        cents = [
            (cid, [by_cid[cid][i] for i in range(len(by_cid[cid]))])
            for cid in sorted(by_cid)
        ]
    out = assign(cents)
    if _with_vectors:
        # internal face for compositions (semantic_dedup_clustered):
        # the assignment projection already carries the double-cast
        # vector, so callers that need (id, cluster, vector) avoid a
        # corpus re-scan plus an id join (guide §2.4)
        return out.select(
            id_col, F.col("cluster").cast("int").alias("cluster"), "_e")
    return out.select(
        id_col, F.col("cluster").cast("int").alias("cluster"))


def semantic_dedup_clustered(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iterations: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """Paper-shaped SemDeDup (Abbas et al. 2023): k-means the corpus,
    compute pairwise cosine ONLY within each cluster, drop the greater
    id of every pair at/above the threshold. Returns surviving
    (id_col) rows.

    This is the scale story the LSH variant
    (``semantic_dedup_survivors``) approximates from the other
    direction: here the quadratic pair step is confined to one
    cluster's rows, and the deterministic k-means recipe keeps the
    whole operator engine-exact — unlike LSH banding, an external SQL
    engine can replay it bit-for-bit. Cross-cluster near-dups are
    missed by construction — the documented SemDeDup trade; raise k
    for speed, lower it for recall.

    The pair step is a per-cluster ``applyInPandas`` that computes the
    gram matrix U @ U.T with NumPy — one BLAS call replaces |C|²·d
    interpreted fold steps of a Column self-join (A/B at sf0.1,
    5k x 64d: pair stage 2.4 s → 0.4 s). A cluster's vectors must fit
    one group: size k so clusters fit an executor.
    """
    # the assignment projection carries the double-cast vector, so the
    # normalized table derives straight from it — no raw corpus
    # re-scan and no (id → cluster) join (guide §2.4; r13: one
    # broadcast join + one parquet scan removed, values identical —
    # the join keyed the same rows the projection already holds)
    assigned = kmeans_fit_predict(
        corpus, id_col, vec_col, k, iterations, _with_vectors=True)
    # normalize ONCE so the per-pair cosine is a single dot product
    vecs = assigned.select(id_col, "cluster", "_e",
                           _norm(F.col("_e")).alias("_n")).select(
        id_col,
        # zero-norm guard (audit r8): x/0 under non-ANSI divide yields
        # an all-NULL unit vector that crashes the gram (object dtype);
        # an all-zero unit keeps the row with cosine 0 to everything
        F.when(
            F.col("_n") > 0,
            F.transform("_e", lambda x: x / F.col("_n")),
        ).otherwise(
            F.transform("_e", lambda x: F.lit(0.0))).alias("_u"),
        "cluster",
    )

    def find_dropped(pdf):
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        u = np.asarray(list(pdf["_u"].to_numpy()[order]))
        if len(ids) < 2:
            return pd.DataFrame({id_col: ids[:0]})
        g = u @ u.T
        ia, ib = np.triu_indices(len(ids), k=1)
        # strict id inequality: duplicate-id rows otherwise nominated
        # THEMSELVES and the anti-join erased the document with no
        # survivor (audit r8)
        hit = (g[ia, ib] >= threshold) & (ids[ia] != ids[ib])
        return pd.DataFrame({id_col: np.unique(ids[ib[hit]])})

    id_type = corpus.schema[id_col].dataType.simpleString()
    dropped = (
        vecs.groupBy("cluster")
        # schema follows the ACTUAL id type — hardcoding long broke
        # string/UUID ids
        .applyInPandas(find_dropped, f"{id_col} {id_type}")
        .distinct()
    )
    return corpus.select(id_col).join(dropped, id_col, "left_anti")


def quantize_int8(
    df: DataFrame,
    vec_col: str,
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the
    standard 4x compression of a 100 TB embedding store (FAISS SQ8
    shape): per vector, scale = max|x| / 127, q_i = round(x_i/scale)
    ∈ [-127, 127]. ADDS ``qvec`` (array<int>) and ``scale`` (double)
    to the input columns (withColumn-style, so downstream metrics read
    raw and quantized values from the same row without a self-join).

    Pure narrow Column expressions (abs-max fold + one transform);
    zero shuffle. Dequantize with ``transform(qvec, q -> q*scale)`` —
    recall loss at top-k rerank depth is the documented SQ8 trade; the
    exact-rerank tier (cosine_topk over float vectors on the candidate
    sliver) composes downstream. All-zero vectors quantize to zeros
    with scale 0.
    """
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    m = F.array_max(F.transform(e, F.abs))
    scale = m / F.lit(127.0)
    q = F.when(
        m > 0,
        F.transform(e, lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(e, lambda x: F.lit(0)))
    return df.withColumn("qvec", q).withColumn(
        "scale", F.coalesce(F.when(m > 0, scale), F.lit(0.0))
    )
