"""Embedding similarity search (approximate nearest neighbor).

Beyond-reference surface (SURVEY.md §7 phase 6): cosine top-k over an
``array<float>`` embedding column.

Scale design:
- brute-force path: the *query set* is small and broadcast; the corpus
  streams through one scan with a per-row JVM expression for the dot
  product (no Python, no shuffle except the final per-query top-k,
  which WindowGroupLimit keeps at k rows per partition).
- LSH path: random-hyperplane signatures bucket the corpus; candidate
  pairs only form within buckets (shuffle keyed on bucket).

All arithmetic is done in float64 after an explicit cast so results
are deterministic and oracle-comparable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _py_l2_norm(vec: list[float]) -> float:
    """Driver-side twin of :func:`l2_norm` for LITERAL vectors
    (centroids, hyperplanes): the identical IEEE-754 sequential fold —
    ``sqrt(((0.0 + x0*x0) + x1*x1) + ...)`` — so ``F.lit(_py_l2_norm(c))``
    is bit-equal to evaluating ``l2_norm(lit_array(c))`` per row, and a
    K-centroid scoring pass pays K constant lookups instead of K
    interpreted HOF folds per row (higher-order functions never reach
    codegen, and Catalyst does not constant-fold aggregate() over
    literal arrays)."""
    acc = 0.0
    for x in vec:
        x = float(x)
        acc = acc + x * x
    return math.sqrt(acc)


def sql_double(x: float) -> str:
    """SQL spelling of a float64 literal that parses back bit-identical:
    ``repr`` round-trips exactly and the parser reads it with Java's
    correctly rounded ``toDouble``. NaN and ±inf have no numeric
    spelling and become a (nullable) string cast."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    return "CAST('-Infinity' AS DOUBLE)" if x < 0 else "CAST('Infinity' AS DOUBLE)"


def double_array_lit(values) -> Column:
    """``array<double>`` literal of ``values`` built from ONE expression:
    the vector is spelled as SQL ``array(<x>D, ...)`` (:func:`sql_double`)
    and parsed once, where ``F.array(*[F.lit(x) ...])`` costs several
    Py4J round trips per element. The folded literal is bit-identical and of the
    same type (``array<double>``, containsNull false). A vector holding
    NaN or ±inf keeps the per-element form: their string-cast spelling
    is nullable and would make containsNull true."""
    xs = [float(x) for x in values]
    if not all(math.isfinite(x) for x in xs):
        return F.array(*[F.lit(x) for x in xs])
    return F.expr("array(" + ", ".join(map(sql_double, xs)) + ")")


def cosine(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows per ``queries`` row.

    ``queries`` must be small (it is broadcast). Self-matches
    (same id) are excluded when the id columns share a name space.
    """
    # norms hoisted out of the pair loop: each side's cast + norm fold
    # runs once per ROW (n + m evaluations) instead of once per PAIR
    # (n x m); the per-pair work is the one dot fold. Same expressions,
    # same qn*vn multiply order as cosine() — bit-identical sims.
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        _as_double(F.col(vec_col)).alias("__qd"),
    ).withColumn("__qn", l2_norm(F.col("__qd")))
    corp = corpus.withColumn(
        "__vd", _as_double(F.col(vec_col))
    ).withColumn("__vn", l2_norm(F.col("__vd")))
    sim = F.round(
        dot(F.col("__qd"), F.col("__vd")) / (F.col("__qn") * F.col("__vn")),
        round_to,
    )
    scored = (
        corp.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(query_id_col, "rk", "neighbor_id", "cosine_sim")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_candidates: int = 20,
    k: int = 5,
    lam_tenths: int = 7,
    round_to: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    top-``k`` diverse results from the exact top-``n_candidates`` —
    greedily pick argmax of ``λ·sim(q,d) − (1−λ)·max_{s∈selected}
    sim(d,s)``, the standard redundancy-pruning step of a retrieval
    pipeline (dedup'd RAG contexts, diverse few-shot pools).

    Built for cross-engine exactness and 100 TB shape:

    - candidate generation is :func:`brute_force_top_k` (swap in the
      LSH/IVF path at scale) — the only stage that touches the corpus;
    - the candidate×candidate similarity matrix is computed JVM-side
      with the same sequential-fold ``cosine`` + round-``round_to``
      contract the verified top-k family uses (bounded:
      ``n_candidates²`` rows per query, scale-invariant);
    - similarities are integerized to micro-units
      (``round(sim·1e6)``), so the greedy itself is PURE INTEGER math
      (``score_u = lam_tenths·qsim_u − (10−lam_tenths)·max_ssim_u``)
      in one applyInPandas over per-query groups — embarrassingly
      parallel by query, no float divergence possible, ties broken by
      smaller neighbor id.

    Output: (query_id, rk, neighbor_id, mmr_score_u).
    """
    cand = brute_force_top_k(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        k=n_candidates,
        round_to=round_to,
    ).select(
        query_id_col,
        "neighbor_id",
        F.round(F.col("cosine_sim") * 1_000_000)
        .cast("long")
        .alias("qsim_u"),
    )
    return mmr_over_candidates(
        cand,
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        k=k,
        lam_tenths=lam_tenths,
        round_to=round_to,
    )


def mmr_over_candidates(
    cand: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    lam_tenths: int = 7,
    round_to: int = 6,
    emit_penalty: bool = False,
) -> DataFrame:
    """The re-rank half of :func:`mmr_rerank`, decoupled from candidate
    generation so ANY candidate stage plugs in — the batch brute-force
    top-k, the IVF cell serve, an LSH bucket — as long as ``cand``
    carries (query_id, neighbor_id, qsim_u) with qsim_u in integer
    micro-units. Candidate sets are bounded per query, so everything
    here is broadcast-side and scale-invariant.

    ``emit_penalty=True`` appends (qsim_u, max_ssim_u) per selected
    row — the relevance and the incurred diversity penalty — for
    knob-pricing consumers (the lambda tradeoff curve)."""
    import pandas as pd

    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
    )
    # candidate set is tiny (n_queries x n_candidates) vs the corpus:
    # broadcast it so fetching candidate vectors is one shuffle-free
    # broadcast-hash probe over the corpus scan
    cv = vecs.join(F.broadcast(cand), "neighbor_id").persist()
    b = F.broadcast(
        cv.select(
            F.col(query_id_col).alias("__q2"),
            F.col("neighbor_id").alias("d2"),
            F.col("__v").alias("__v2"),
        )
    )
    ssim = F.round(
        F.round(cosine(F.col("__v"), F.col("__v2")), round_to) * 1_000_000
    ).cast("long")
    pairs = (
        cv.join(
            b,
            (F.col(query_id_col) == F.col("__q2"))
            & (F.col("neighbor_id") != F.col("d2")),
        )
        .select(query_id_col, "neighbor_id", "qsim_u", "d2", ssim.alias("ssim_u"))
    )
    # candidates with no pair rows (single-candidate query) still need
    # a row for the greedy; left-join keeps them with null d2
    tall = cand.join(
        F.broadcast(pairs.select(query_id_col, "neighbor_id", "d2", "ssim_u")),
        [query_id_col, "neighbor_id"],
        "left",
    )

    div_tenths = 10 - lam_tenths

    def greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        qs: dict[int, int] = {}
        ss: dict[tuple[int, int], int] = {}
        for r in pdf.itertuples(index=False):
            d1 = int(r.neighbor_id)
            qs[d1] = int(r.qsim_u)
            if not pd.isna(r.d2):
                ss[(d1, int(r.d2))] = int(r.ssim_u)
        qid = int(pdf[query_id_col].iloc[0])
        selected: list[int] = []
        out = []
        remaining = set(qs)
        for rk in range(1, k + 1):
            if not remaining:
                break
            best_d, best_score, best_maxs = None, None, 0
            for d in sorted(remaining):  # id order = deterministic ties
                maxs = (
                    max(ss.get((d, s), 0) for s in selected)
                    if selected
                    else 0
                )
                score = lam_tenths * qs[d] - div_tenths * maxs
                if best_score is None or score > best_score:
                    best_d, best_score, best_maxs = d, score, maxs
            selected.append(best_d)
            remaining.discard(best_d)
            row = (qid, rk, best_d, best_score)
            if emit_penalty:
                row = row + (qs[best_d], best_maxs)
            out.append(row)
        cols = [query_id_col, "rk", "neighbor_id", "mmr_score_u"]
        if emit_penalty:
            cols += ["qsim_u", "max_ssim_u"]
        return pd.DataFrame(out, columns=cols)

    n_parts = int(
        corpus.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    schema = (
        f"{query_id_col} long, rk int, neighbor_id long, mmr_score_u long"
    )
    if emit_penalty:
        schema += ", qsim_u long, max_ssim_u long"
    return (
        tall.repartition(n_parts, query_id_col)
        .groupBy(query_id_col)
        .applyInPandas(greedy, schema)
    )


def random_hyperplane_buckets(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Sign-of-projection LSH bucket id (one bit per hyperplane).

    ``planes`` are fixed (seeded) hyperplanes shipped as literals —
    deterministic across runs, no fitting step.
    """
    bits = [
        F.when(dot(_as_double(F.col(vec_col)), double_array_lit(p)) > 0, 1 << i)
        .otherwise(0)
        for i, p in enumerate(planes)
    ]
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return df.withColumn(bucket_col, bucket.cast("long"))


def lsh_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine rank within the bucket."""
    # per-side norm hoist (see brute_force_top_k): one dot fold per
    # bucket-candidate pair, casts + norms once per row.
    cb = random_hyperplane_buckets(corpus, planes, vec_col).withColumn(
        "__vd", _as_double(F.col(vec_col))
    ).withColumn("__vn", l2_norm(F.col("__vd")))
    qb = random_hyperplane_buckets(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
        ),
        planes,
        "__qvec",
    ).withColumn("__qd", _as_double(F.col("__qvec"))).withColumn(
        "__qn", l2_norm(F.col("__qd"))
    )
    sim = F.round(
        dot(F.col("__qd"), F.col("__vd")) / (F.col("__qn") * F.col("__vn")),
        round_to,
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(query_id_col, "rk", "neighbor_id", "cosine_sim")
    )


# above this many centroids the per-centroid expression formulation is
# replaced by a single transform over a constant-folded centroid array:
# K separate dot-product aggregates blow past JIT method-size limits
# (whole-stage codegen falls back to interpreted evaluation) while the
# transform keeps ONE lambda regardless of K
_CENTROID_EXPR_MAX = 32


def _sim_entries(
    v: Column,
    centroids: list[tuple[int, list[float]]],
    vn: Column | None = None,
) -> Column:
    """array of (sim, neg_cid) structs for v against every centroid —
    the shared kernel of assignment (array_max) and multi-probe
    (sort + slice). Chooses the per-centroid expression formulation
    for small codebooks (marginally faster: no struct field access)
    and the transform-over-constant-array formulation for large ones
    (constant codegen size in K). Both produce IDENTICAL values: the
    same sequential-fold dot product, the same (sim, -cid) structs.

    ``vn``: pass the row's precomputed ``l2_norm(v)`` column to
    evaluate the row-norm fold ONCE instead of once per centroid;
    centroid norms are always baked in as literals via
    :func:`_py_l2_norm` (bit-equal to the in-plan fold). Per (row,
    centroid) the kernel then runs 1 interpreted fold (the dot), not
    3 — HOFs never reach codegen, so fold count is the cost driver.

    Each centroid enters the plan as one parsed literal
    (:func:`double_array_lit`), not one ``F.lit`` per element: at K=8,
    dim 64 that is 8 expression parses instead of 512 ``F.lit`` calls
    of several Py4J round trips each."""
    if vn is None:
        vn = l2_norm(v)
    if len(centroids) <= _CENTROID_EXPR_MAX:
        entries = []
        for cid, cvec in centroids:
            c = double_array_lit(cvec)
            sim = dot(v, c) / (vn * F.lit(_py_l2_norm(cvec)))
            entries.append(
                F.struct(sim.alias("sim"), F.lit(-cid).alias("neg_cid"))
            )
        return F.array(*entries)
    cents = F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                double_array_lit(cv).alias("cv"),
                F.lit(_py_l2_norm(cv)).alias("cn"),
            )
            for cid, cv in centroids
        ]
    )
    return F.transform(
        cents,
        lambda c: F.struct(
            (dot(v, c["cv"]) / (vn * c["cn"])).alias("sim"),
            (-c["cid"]).cast("int").alias("neg_cid"),
        ),
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    sim_col: str | None = None,
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (centroids are
    a small fixed list shipped as literals — at scale these come from
    a sampled k-means fit, broadcast the same way). With ``sim_col``
    the cosine to the winning centroid is emitted too."""
    # Stage the cast vector, its norm, and the argmax struct as real
    # columns: each is an expensive expression consumed more than once
    # (the cast by K dots + the norm, the norm by K sims, the argmax by
    # cell + sim), and CollapseProject keeps a Project boundary when a
    # non-cheap alias has multiple consumers — so the cast, the
    # row-norm fold, and the entries+array_max pass each run ONCE per
    # row instead of O(K) / twice.
    staged = (
        df.withColumn("__vd", _as_double(F.col(vec_col)))
        .withColumn("__vn", l2_norm(F.col("__vd")))
    )
    # argmax via array_max over (sim, -cid) structs: one linear pass,
    # no nested-when expression blowup; tie -> smallest centroid id.
    # _sim_entries picks the codegen-safe formulation for large K.
    staged = staged.withColumn(
        "__best",
        F.array_max(
            _sim_entries(F.col("__vd"), centroids, vn=F.col("__vn"))
        ),
    )
    out = staged.withColumn(cell_col, (-F.col("__best")["neg_cid"]).cast("int"))
    if sim_col is not None:
        out = out.withColumn(sim_col, F.col("__best")["sim"])
    return out.drop("__vd", "__vn", "__best")


def kmeans_update(
    assigned: DataFrame,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> list[tuple[int, list[float]]]:
    """One Lloyd centroid-update step: the per-dimension mean of each
    cell's members. The mean accumulates in DECIMAL (exact, therefore
    order-independent) and divides as float64, so every engine — and
    every partition order — produces bit-identical centroids; that is
    what lets a k-means assignment be oracle-checked at all.

    Returns the new centroids driver-side: K x dim doubles, a bounded
    collect with the same contract as the IVF centroid list (the
    shuffle is ``(cell, dim)``-keyed partial aggregation; only the K
    result rows ever reach the driver)."""
    v = _as_double(F.col(vec_col))
    means = (
        assigned.select(
            F.col(cell_col).alias("__cell"), F.posexplode(v).alias("pos", "x")
        )
        .groupBy("__cell", "pos")
        .agg(
            (
                F.sum(F.col("x").cast(DecimalType(28, 12))).cast("double")
                / F.count("x")
            ).alias("m")
        )
    )
    rows = (
        means.groupBy("__cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
        .collect()
    )
    return sorted((int(r["__cell"]), [float(x) for x in r["cv"]]) for r in rows)


def kmeans_lloyd(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 1,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means on an embedding column: assign (cosine argmax)
    then decimal-exact centroid update, ``iterations`` times. Spark
    MLlib's own KMeans collects centroids per iteration the same way;
    the driver state is K x dim regardless of corpus size. A cell that
    loses all members drops out (standard empty-cluster behavior)."""
    for _ in range(iterations):
        assigned = ivf_assign(df, centroids, id_col, vec_col)
        centroids = kmeans_update(assigned, vec_col)
    return centroids


def probe_cells_expr(
    vec: Column,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    vn: Column | None = None,
) -> Column:
    """Per-row array of the ``nprobe`` nearest centroid cell ids (by
    cosine, ties to the smaller centroid id) — the query-side
    multi-probe expression, usable on batch and streaming rows alike.
    ``vn``: optional precomputed row norm (see :func:`_sim_entries`)."""
    v = _as_double(vec)
    # sort desc: highest sim first; tie -> larger neg_cid = smaller cid
    # (_sim_entries keeps codegen constant-size for large codebooks)
    arr = F.sort_array(_sim_entries(v, centroids, vn=vn), asc=False)
    return F.transform(
        F.slice(arr, 1, nprobe), lambda s: (-s["neg_cid"]).cast("int")
    )


def ivf_probe_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Explode each row into its ``nprobe`` nearest centroid cells
    (by cosine, ties to the smaller centroid id) — the query-side
    multi-probe of an IVF index. One row per probed cell."""
    staged = df.withColumn("__vn", l2_norm(_as_double(F.col(vec_col))))
    return staged.withColumn(
        cell_col,
        F.explode(
            probe_cells_expr(
                F.col(vec_col), centroids, nprobe, vn=F.col("__vn")
            )
        ),
    ).drop("__vn")


def ivf_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    round_to: int = 6,
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN: candidates restricted to the query's ``nprobe``
    nearest cells, exact cosine rank within them. One shuffle keyed on
    cell; corpus cells can be pre-partitioned/bucketed on disk at
    100 TB so probes touch ``nprobe`` partitions. With ``nprobe`` =
    number of centroids this degenerates to exact brute force (tested).
    A corpus vector lives in exactly one cell, so multi-probe never
    duplicates a candidate pair."""
    # per-side norm hoist (see brute_force_top_k): cast + norm fold per
    # row before the cell join, one dot fold per candidate pair after.
    cb = ivf_assign(corpus, centroids, id_col, vec_col).withColumn(
        "__vd", _as_double(F.col(vec_col))
    ).withColumn("__vn", l2_norm(F.col("__vd")))
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    if nprobe <= 1:
        qb = ivf_assign(q, centroids, query_id_col, "__qvec")
    else:
        qb = ivf_probe_cells(q, centroids, nprobe, "__qvec")
    qb = qb.withColumn("__qd", _as_double(F.col("__qvec"))).withColumn(
        "__qn", l2_norm(F.col("__qd"))
    )
    sim = F.round(
        dot(F.col("__qd"), F.col("__vd")) / (F.col("__qn") * F.col("__vn")),
        round_to,
    )
    scored = (
        cb.join(F.broadcast(qb), "cell")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(query_id_col, "rk", "neighbor_id", "cosine_sim")
    )


def pack_cells(
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """(cell, members) — each IVF cell's vectors packed into ONE array
    row, the memory-resident index shard a vector-search service keeps
    per cell. Bounded by design: IVF sizes K so cells stay ~constant
    (the sqrt(N) rule); at 100 TB you train more centroids, not bigger
    cells, so the packed row never outgrows the row-size budget."""
    return assigned.groupBy(F.col(cell_col).alias("cell")).agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("nid"), F.col(vec_col).alias("v"))
        ).alias("members")
    )


def packed_topk_expr(
    qvec: Column,
    members: Column,
    query_id: Column,
    k: int = 5,
    round_to: int = 6,
) -> Column:
    """Exact cosine top-k inside a packed cell as ONE per-row
    expression: score every member (same cosine + round as the batch
    rank, so results are bit-identical), drop the self-match, sort by
    (sim DESC, id ASC) with an array_sort comparator — the same order
    ivf_top_k's row_number uses — and keep k. Stateless, so an
    arriving query vector is served append-mode with zero stream
    state."""
    scored = F.transform(
        members,
        lambda m: F.struct(
            m["nid"].alias("nid"),
            F.round(cosine(qvec, m["v"]), round_to).alias("sim"),
        ),
    )
    scored = F.filter(scored, lambda s: s["nid"] != query_id)
    ranked = F.array_sort(
        scored,
        lambda l, r: F.when(l["sim"] > r["sim"], -1)
        .when(l["sim"] < r["sim"], 1)
        .when(l["nid"] < r["nid"], -1)
        .when(l["nid"] > r["nid"], 1)
        .otherwise(0)
        .cast("int"),
    )
    return F.slice(ranked, 1, k)


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_to: int = 6,
    num_blocks: int = 8,
) -> DataFrame:
    """All near-duplicate pairs by exact cosine >= threshold
    (embedding-cosine dedup; output (doc1, doc2, cosine_sim), doc1 <
    doc2).

    Distributed block-pair brute force — NOTHING is collected to the
    driver. Rows are assigned to ``num_blocks`` blocks by id; each row
    is replicated to every block *pair* it participates in (side 'A'
    for pairs (b, j>=b), side 'B' for pairs (i<=b, b)), one shuffle
    keyed on (bi, bj), and each of the B*(B+1)/2 block-pair groups
    runs the dense kernel over its two blocks inside
    ``applyInPandas``. Per-task memory is O((n/B)^2 bool + 2*(n/B)*dim
    floats) regardless of total corpus size: at 100x the data, raise
    ``num_blocks`` ~100x (B scales linearly with n for fixed task
    memory; replication factor is B+1, the price of exact all-pairs).
    The LSH-bucketed variant below stays the sub-quadratic scale path.

    Exactness strategy: the n_a x n_b block runs through one BLAS
    matmul as a CANDIDATE filter only (threshold minus a margin far
    above BLAS's ~1e-13 relative error), then the surviving sparse
    pair set is recomputed with a dimension-sequential fold that
    reproduces ``F.aggregate``/DuckDB's list_dot_product bit-for-bit.
    The emitted value is always the sequential-fold one, so the oracle
    hash-matches while the O(n_a*n_b*dim) work stays inside dgemm
    instead of dim rank-1 numpy updates (~10x on wide blocks).
    """
    import numpy as np

    nb = int(num_blocks)
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
    # A-side: row in block b joins pairs (b, j) for j >= b
    a_rows = (
        base.withColumn("__b", F.pmod(F.col("__id"), F.lit(nb)).cast("int"))
        .withColumn("bj", F.explode(F.sequence(F.col("__b"), F.lit(nb - 1))))
        .select(
            F.col("__b").alias("bi"),
            "bj",
            F.lit("A").alias("side"),
            "__id",
            "__vec",
        )
    )
    # B-side: row in block b joins pairs (i, b) for i <= b
    b_rows = (
        base.withColumn("__b", F.pmod(F.col("__id"), F.lit(nb)).cast("int"))
        .withColumn("bi", F.explode(F.sequence(F.lit(0), F.col("__b"))))
        .select(
            "bi",
            F.col("__b").alias("bj"),
            F.lit("B").alias("side"),
            "__id",
            "__vec",
        )
    )
    both = a_rows.unionByName(b_rows)
    margin = 1e-6  # >> BLAS-vs-fold divergence, << any real gap

    def kernel(pdf):
        import pandas as pd

        a_pdf = pdf[pdf["side"] == "A"]
        b_pdf = pdf[pdf["side"] == "B"]
        if not len(a_pdf) or not len(b_pdf):
            return pd.DataFrame(
                {"doc1": [], "doc2": [], "cosine_sim": []}
            ).astype({"doc1": "int64", "doc2": "int64", "cosine_sim": "float64"})
        diagonal = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        a_ids = a_pdf["__id"].to_numpy(dtype=np.int64)
        b_ids = b_pdf["__id"].to_numpy(dtype=np.int64)
        a_mat = np.array(list(a_pdf["__vec"]), dtype=np.float64)
        b_mat = np.array(list(b_pdf["__vec"]), dtype=np.float64)
        dim = a_mat.shape[1]
        a_norm2 = np.zeros(len(a_ids))
        b_norm2 = np.zeros(len(b_ids))
        for k in range(dim):  # sequential, matches the fold order
            a_norm2 += a_mat[:, k] * a_mat[:, k]
            b_norm2 += b_mat[:, k] * b_mat[:, k]
        a_norm, b_norm = np.sqrt(a_norm2), np.sqrt(b_norm2)
        approx = (a_mat @ b_mat.T) / (a_norm[:, None] * b_norm[None, :])
        cand = approx >= threshold - margin
        if diagonal:
            # both sides hold the same block: keep one orientation
            cand &= a_ids[:, None] < b_ids[None, :]
        ai, bi = np.nonzero(cand)
        # exact sequential-fold recompute on the sparse candidates
        av, bv = a_mat[ai], b_mat[bi]
        acc = np.zeros(len(ai))
        for k in range(dim):
            acc += av[:, k] * bv[:, k]
        cos = acc / (a_norm[ai] * b_norm[bi])
        keep = cos >= threshold
        d1, d2 = a_ids[ai[keep]], b_ids[bi[keep]]
        return pd.DataFrame(
            {
                "doc1": np.minimum(d1, d2),
                "doc2": np.maximum(d1, d2),
                "cosine_sim": cos[keep],
            }
        )

    # explicit pre-partition on the group keys: the hash exchange then
    # satisfies applyInPandas' required distribution at OUR partition
    # count, instead of an AQE byte-coalesced one — byte-size
    # coalescing folds every CPU-bound O((n/B)^2) block-pair kernel
    # into one task and voids the per-task memory contract above
    n_parts = min(
        nb * (nb + 1) // 2,
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
    )
    out = (
        both.repartition(n_parts, "bi", "bj")
        .groupBy("bi", "bj")
        .applyInPandas(kernel, "doc1 long, doc2 long, cosine_sim double")
    )
    return out.select(
        "doc1", "doc2", F.round("cosine_sim", round_to).alias("cosine_sim")
    )


def cosine_pairs_lsh(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_to: int = 6,
) -> DataFrame:
    """Approximate embedding near-dup pairs: random-hyperplane buckets
    form the candidates (pairs only join inside a bucket — shuffle
    keyed on bucket id, sub-quadratic), then exact cosine verifies.
    Verified pairs are a subset of ``cosine_pairs`` at the same
    threshold (LSH may miss pairs whose signatures differ)."""
    b = random_hyperplane_buckets(df, planes, vec_col)
    # per-side cast + norm staged before the bucket join: the sim
    # expression is evaluated by both the threshold filter and the
    # output projection, so without the hoist each pair paid 2 casts +
    # 3 folds twice; now each evaluation is one dot fold (same qn*vn
    # multiply order as cosine() — bit-identical values).
    a = b.select(
        "bucket",
        F.col(id_col).alias("doc1"),
        _as_double(F.col(vec_col)).alias("__va"),
    ).withColumn("__na", l2_norm(F.col("__va")))
    c = b.select(
        "bucket",
        F.col(id_col).alias("doc2"),
        _as_double(F.col(vec_col)).alias("__vb"),
    ).withColumn("__nb", l2_norm(F.col("__vb")))
    sim = dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        a.join(c, "bucket")
        .where(F.col("doc1") < F.col("doc2"))
        .where(sim >= threshold)
        .select("doc1", "doc2", F.round(sim, round_to).alias("cosine_sim"))
        .distinct()
    )
