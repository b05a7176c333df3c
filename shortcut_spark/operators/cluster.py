"""Integer fixed-point k-means — hash-exact embedding clustering.

Float k-means (``similarity.ivf_fit``) is the right tool for building ANN
indexes, but its reduce-order drift makes the ASSIGNMENTS uncertifiable:
two engines summing doubles in different orders can flip an argmin near a
Voronoi boundary. This module is the certifiable sibling: every arithmetic
step is BIGINT multiply / add / floor-divide over 1e-6-quantized elements
(the convention of ``similarity.embedding_dispersion``), so a fixed number
of Lloyd iterations is bit-identical in any engine and the whole iterative
computation unrolls into a plain CTE chain a SQL oracle can replicate —
the same certification trick as ``graph.pagerank``.

The reference engine has no clustering surface (its world is single-Store
predicate scans, ``/root/reference/src/lib.rs``); this is part of the
LLM-pipeline extension surface: deterministic corpus partitioning for
diversity-aware sampling, per-cluster dedup sharding, and balanced
train/eval splits all need a clustering whose output is reproducible
across engine versions and cluster sizes.

Spec (the oracle replicates it verbatim):

* quantize:   ``q_id = floor(x_id · quant + 0.5)`` per element (exact
  double arithmetic — embeddings arrive as float32, widened identically
  everywhere).
* seed:       centroids c_0..c_{k-1} are the quantized vectors of the k
  smallest ids (rank in id order = cluster id). Deterministic, no RNG.
* assign:     ``cluster(v) = argmin_j Σ_d (q_vd − c_jd)²`` with ties
  broken on the smaller j — integer distances make the argmin exact.
* update:     ``c_jd = fdiv(Σ_{v∈j} q_vd, n_j)`` where ``fdiv`` is
  mathematical FLOOR division expressed sign-safely as
  ``(s − ((s % n) + n) % n) / n`` — Spark's ``div`` truncates toward
  zero while some engines floor, so the operator never relies on either:
  the adjusted numerator is exactly divisible. Empty clusters drop out
  (both engines: the update aggregates only assigned members); surviving
  clusters KEEP their original id, so assignments stay comparable across
  iterations.
* repeat ``iters`` times, then emit the final assignment.

Scale shape: centroids are k·D integers — driver-resident metadata (the
same bounded-collect class as ``ivf_fit``'s seeds). Each iteration is ONE
map-only assignment pass (all k distances evaluate row-locally against
literal centroid arrays — no crossJoin, no per-row shuffle) plus ONE
partial-aggregated (cluster, dim) shuffle whose key space is k·D
regardless of corpus size. Overflow: |x| ≤ ~30 keeps Σ_d diff² inside
int64 at quant=1e6, D=64; lower ``quant`` for wilder ranges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import scoped_confs

__all__ = ["kmeans_exact", "pca_top_component", "kmeans_silhouette"]


def _quant_expr(vec_col: str, quant: int) -> F.Column:
    # NULL elements quantize to 0 (the module-wide NULL policy: a zero
    # contributes nothing to any product/distance term, matching what a
    # NULL-skipping SUM would compute); whole-NULL vectors are filtered
    # by the callers via _non_null
    return F.transform(
        F.col(vec_col),
        lambda x: F.coalesce(
            F.floor(x.cast("double") * quant + F.lit(0.5)).cast("long"), F.lit(0)
        ),
    )


def _non_null(emb: DataFrame, vec_col: str) -> DataFrame:
    """Drop NULL/empty vectors — they have no position in the space, and
    a None reaching the seed collect or the distance loop would crash
    (code-review r7 NULL-tolerance class). Spread single-partition input
    first (the fixture scan arrives as ONE partition, which serialized
    every distance pass — interpreted or numpy — on one core; no-op at
    real scale)."""
    from ..functions import ensure_parallelism

    return ensure_parallelism(emb).filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    )


def _dist2(qv: F.Column, centroid) -> F.Column:
    """Integer squared L2 to one centroid — `centroid` is a list of ints
    (wrapped into an array literal) or an array Column (the element of a
    centroid-ARRAY literal, the compile-once form below)."""
    c = (
        F.array(*[F.lit(int(v)).cast("long") for v in centroid])
        if isinstance(centroid, (list, tuple))
        else centroid
    )
    return F.aggregate(
        F.zip_with(qv, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _dist_structs(cur: list[tuple[int, list[int]]]) -> F.Column:
    """Array of (d, c) structs: squared distance from __qv to EVERY live
    centroid, tagged with its cluster id. The centroids ride as ONE
    array<array<long>> literal and the distance loop is a single
    ``transform`` — so the expression tree (and its generated code) is
    IDENTICAL across Lloyd iterations and independent of k. The naive
    form (k unrolled per-centroid aggregates over fresh literals) forces
    a whole-stage-codegen recompile every iteration: measured 7.7 s vs
    3.2 s for the full 5-iteration loop at sf0.1, and its expression
    tree grows k·D nodes — at k=1000 it would blow the codegen limits
    entirely. Ties break on the smaller cluster id via the struct
    ordering, exactly like the unrolled form."""
    carr = F.lit([[int(v) for v in c] for _, c in cur])
    cids = F.lit([int(cid) for cid, _ in cur])
    return F.transform(
        carr,
        lambda c, i: F.struct(
            _dist2(F.col("__qv"), c).alias("d"),
            F.element_at(cids, i + F.lit(1)).alias("c"),
        ),
    )


# test seam: True forces the pure-expression assignment/silhouette paths
# (the pre-r12 plans) so pytest can pin the numpy kernels byte-identical
_FORCE_EXPR = False


# below this many vectors the interpreted distance loop is NOT the wall —
# job floors are — and the numpy branch's union/worker overhead measured
# net-negative (bench A/B at fixture N; the 100× probe flips decisively
# the other way, docs/SCALE.md r12): the kernel engages only where it wins
_NP_MIN_ROWS = 100_000


def _np_sq_dists(X, C):
    """Exact int64 squared-L2 distance matrix (n×k) — the numpy twin of
    ``_dist2``'s integer expression, bit-identical because BOTH are pure
    int64 arithmetic, with the overflow envelope ENFORCED (the
    ``pca_top_component`` contract): D·span² must fit int64, else raise
    with the lower-``quant`` prescription instead of wrapping silently."""
    import numpy as np

    D = C.shape[1]
    span = int(np.abs(X).max(initial=0)) + int(np.abs(C).max(initial=0))
    if D * span * span >= 2**63:
        raise ValueError(
            "quantized magnitudes too hot for exact int64 distances — "
            "lower quant (kmeans overflow envelope, the pca_top_component rule)"
        )
    out = np.empty((X.shape[0], C.shape[0]), dtype=np.int64)
    for j in range(C.shape[0]):
        d = X - C[j]
        out[:, j] = np.einsum("ij,ij->i", d, d)
    return out


def _np_assign_fn(cents: list[tuple[int, list[int]]]):
    """Arrow-batched exact argmin assignment — the r12 application of the
    gemm lesson (Catalyst runs ``aggregate(zip_with(...))`` INTERPRETED,
    outside codegen; 6 Lloyd passes × N·k·D interpreted ops dominated
    the clustering walls) to the INTEGER distance loop, where numpy is
    not merely a prefilter: int64 arithmetic is exact, so the batch
    kernel IS the canonical computation. Ties break to the smallest
    cluster id — centroids are processed in ascending-cid order and
    ``argmin`` returns the first minimum, exactly the struct-ordering
    rule of the expression path."""
    import numpy as np

    order = sorted(range(len(cents)), key=lambda i: cents[i][0])
    # int32 cids: the expression path's cluster ids ride an INT array
    # literal, and the output dtype is part of the certified schema
    cids = np.array([int(cents[i][0]) for i in order], dtype=np.int32)
    C = np.array([cents[i][1] for i in order], dtype=np.int64)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["__qv"].to_numpy()).astype(np.int64, copy=False)
            dm = _np_sq_dists(X, C)
            bi = dm.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "__qv": pdf["__qv"],
                    "d": dm[np.arange(len(X)), bi],
                    "c": cids[bi],
                }
            )

    return fn


def _driver_lloyd(
    q: DataFrame, cents: list[tuple[int, list[int]]], iters: int, D0: int
) -> list[tuple[int, list[int]]] | None:
    """Run the Lloyd ITERATIONS driver-side over a bounded collect —
    returns the final centroid list, or None when ineligible (ragged /
    null-holed rows, or quantized magnitudes outside the exact-int64
    envelope), in which case the caller keeps the distributed loop.

    Bit-identity argument, step by step against the distributed plan the
    gate replaces (< _NP_MIN_ROWS rows, i.e. the expression path):
    distances are the same exact int64 arithmetic (``_np_sq_dists`` ==
    ``_dist2`` — both pure int64, envelope enforced), the argmin
    tie-breaks to the smallest cluster id (ascending-cid centroid order +
    first-minimum, the struct-ordering rule), the update is an exact
    int64 sum/count per (cluster, dim) with MATHEMATICAL floor division
    (``np.floor_divide`` floors like the sign-safe fdiv expression), and
    empty clusters drop while survivors keep their id. The final
    assignment (and everything downstream) stays the untouched
    distributed plan over these centroids. Wall saved: ``iters``
    assignment passes + ``iters`` rollup-collect jobs of pure scheduling
    floor at sub-gate corpus sizes."""
    import numpy as np

    rows = [r["__qv"] for r in q.select("__qv").collect()]
    if any(len(v) != D0 or any(x is None for x in v) for v in rows):
        return None
    X = np.array(rows, dtype=np.int64)
    # envelope for EVERY iteration up front: centroids are floored means
    # of members, so |c| <= max|x| and span <= 2·max|x| at any round
    span = 2 * int(np.abs(X).max(initial=0))
    if D0 * span * span >= 2**63:
        return None
    for _ in range(iters):
        order = sorted(range(len(cents)), key=lambda i: cents[i][0])
        cids = [int(cents[i][0]) for i in order]
        C = np.array([cents[i][1] for i in order], dtype=np.int64)
        bi = _np_sq_dists(X, C).argmin(axis=1)
        S = np.zeros((len(cids), D0), dtype=np.int64)
        np.add.at(S, bi, X)
        cnt = np.bincount(bi, minlength=len(cids))
        live = cnt > 0
        cv = np.floor_divide(S[live], cnt[live][:, None])
        live_cids = [cid for cid, keep in zip(cids, live) if keep]
        cents = [
            (cid, [int(x) for x in row]) for cid, row in zip(live_cids, cv)
        ]
    return cents


def kmeans_exact(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 5,
    quant: int = 10**6,
) -> DataFrame:
    """(id, cluster, dist2) after ``iters`` exact Lloyd iterations.

    ``cluster`` is the 0-based rank (in id order) of the seed vector whose
    Voronoi cell the row landed in after the final update; ``dist2`` is
    the integer squared distance to that centroid in quantized units.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    q = _non_null(emb, vec_col).select(
        F.col(id_col).alias("__id"), _quant_expr(vec_col, quant).alias("__qv")
    ).localCheckpoint(eager=True)  # scanned once per iteration

    # seeds: quantized vectors of the k smallest ids (bounded: k rows)
    cents: list[tuple[int, list[int]]] = [
        (j, list(r["__qv"]))
        for j, r in enumerate(q.orderBy("__id").limit(k).collect())
    ]
    if not cents:
        # fail like pca_top_component does — the seedless Lloyd loop
        # would otherwise surface as a cryptic zip_with type error
        raise ValueError("empty embedding table")

    # the assignment input splits ONCE (q is checkpointed; the split is a
    # cheap filter per pass): fixed-width null-free rows take the exact
    # int64 numpy kernel, anything ragged or null-holed keeps the
    # expression path — identical semantics by construction, and the
    # ragged side is empty on every real corpus
    from pyspark.sql import types as _T

    D0 = len(cents[0][1])
    # size gate: one cheap count on the eager-checkpointed relation —
    # the kernel engages only at corpus sizes where the interpreted
    # distance loop (not the job floor) is the wall (_NP_MIN_ROWS)
    n_rows = q.count()
    use_np = (not _FORCE_EXPR) and n_rows >= _NP_MIN_ROWS
    # below the gate the job floors ARE the wall: run the ITERATIONS
    # driver-side over one bounded collect (≤ _NP_MIN_ROWS rows of
    # quantized ints — the CC_DRIVER_EDGES class of gate) and keep the
    # final assignment distributed; see _driver_lloyd for the
    # bit-identity argument. Ineligible inputs fall through unchanged.
    driver_loop = (not _FORCE_EXPR) and 0 < n_rows < _NP_MIN_ROWS
    is_clean = (F.size("__qv") == D0) & ~F.exists("__qv", lambda x: x.isNull())
    q_clean = q.filter(is_clean)
    q_ragged = q.filter(~is_clean)
    np_schema = _T.StructType(
        [
            q.schema["__id"],
            q.schema["__qv"],
            _T.StructField("d", _T.LongType()),
            # c matches the expression path's element_at over an INT
            # array literal (cluster stays int32 downstream)
            _T.StructField("c", _T.IntegerType()),
        ]
    )

    def assign(cur: list[tuple[int, list[int]]]) -> DataFrame:
        # map-only, no shuffle in either branch; argmin = array_min over
        # (dist, cid) structs on the expression side, first-minimum over
        # ascending cids on the numpy side (same tie rule)
        expr_best = F.array_min(_dist_structs(cur)).alias("__best")
        if use_np and {len(c) for _, c in cur} == {D0}:
            a = q_clean.mapInPandas(_np_assign_fn(cur), np_schema).select(
                "__id",
                "__qv",
                F.struct(
                    F.col("d").alias("d"), F.col("c").alias("c")
                ).alias("__best"),
            )
            return a.unionByName(q_ragged.select("__id", "__qv", expr_best))
        # ragged CENTROIDS (only reachable when ragged rows fed an
        # update): the stacked kernel cannot represent them — pure
        # expression path, exactly the pre-r12 plan
        return q.select("__id", "__qv", expr_best)

    done_driver = False
    if driver_loop:
        new_cents = _driver_lloyd(q, cents, iters, D0)
        if new_cents is not None:
            cents = new_cents
            done_driver = True
    if not done_driver:
        # static compile for the update rollup (the matview/CC-loop
        # pattern): the (cluster, dim) aggregate's key space is k·D BY
        # CONSTRUCTION — independent of corpus size — and partial map-side
        # aggregation bounds the exchange at ``map_partitions × k·D``
        # combined rows, so a small reduce-partition count derived from
        # the MAP parallelism (never the session constant) is correct at
        # any scale; under AQE each per-iteration collect instead
        # materialized every exchange as its own Spark job — pure
        # scheduling floor ×iters. Results identical (AQE only re-plans
        # execution).
        rollup = {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(
                max(1, min(256, q.rdd.getNumPartitions() // 64))
            ),
        }
        with scoped_confs(emb.sparkSession, rollup):
            for _ in range(iters):
                # update: one (cluster, dim) shuffle, key space k·D; floor-div
                # is sign-safe fdiv so Spark and the oracle agree on negatives
                upd = (
                    assign(cents)
                    .select(
                        F.col("__best.c").alias("__c"),
                        F.posexplode("__qv").alias("__pos", "__q"),
                    )
                    .groupBy("__c", "__pos")
                    .agg(F.sum("__q").alias("__s"), F.count(F.lit(1)).alias("__n"))
                    .select(
                        "__c",
                        "__pos",
                        F.expr("(__s - ((__s % __n) + __n) % __n) div __n").alias("__cv"),
                    )
                )
                by_c: dict[int, dict[int, int]] = {}
                for r in upd.collect():  # bounded: k·D integers (driver metadata)
                    by_c.setdefault(r["__c"], {})[r["__pos"]] = r["__cv"]
                cents = [
                    (cid, [dims[p] for p in sorted(dims)]) for cid, dims in sorted(by_c.items())
                ]

    final = assign(cents)
    return final.select(
        F.col("__id").alias(id_col),
        F.col("__best.c").alias("cluster"),
        F.col("__best.d").alias("dist2"),
    )


def pca_top_component(
    emb: DataFrame,
    vec_col: str = "embedding",
    iters: int = 5,
    quant: int = 10**6,
    scale: int = 10**6,
) -> DataFrame:
    """Top PRINCIPAL COMPONENT by integer fixed-point power iteration —
    engine-exact PCA for the embedding pipeline (anisotropy diagnosis,
    whitening direction, dominant-topic axis). Float power iteration has
    the same certification problem as float k-means: reduce-order drift
    compounds per iteration. Here every step is exact integer
    arithmetic, so the whole computation is bit-identical anywhere and
    unrolls into a CTE chain (the pagerank/kmeans trick, applied to a
    D-dimensional recurrence):

    * Gram matrix A = Σ_n q_n q_nᵀ over 1e-6-quantized elements — the
      element pairs of each vector are already ROW-LOCAL, so the Gram is
      a per-partition dense XᵀX: one Arrow-batched ``mapInPandas`` pass
      runs exact chunked int64 matmuls (numpy) and accumulates the
      partials in arbitrary-precision Python ints, emitting ONE upper
      triangle (D·(D+1)/2 rows) per partition; a final ≤D²-key DECIMAL
      aggregate merges partitions and symmetry fills the mirror
      driver-side (driver metadata: 64² = 4096 exact integers, the
      k-means-centroid class). No join anywhere: the previous shape
      self-joined an n·D-row exploded relation on row id — a 2·n·D-row
      shuffle that existed only to re-pair elements that started in the
      same row. Dense integer linear algebra is the one place the
      built-in expression path genuinely loses: the expression-tree
      equivalent (nested ``transform`` → explode of D·(D+1)/2 structs
      per row) pushes n·D²/2 rows through codegen — measured ~20×
      slower at sf0.1 than the vectorized matmul, which is why this hot
      path is Arrow-batched (house rule: pandas UDFs only where
      built-ins lose by an order of magnitude; this is that case).
    * v₀ = scale·e₀; iterate  w = A v ;  v' = floor(w·scale / max|w|)
      (mathematical floor, expressed sign-safely — so components stay
      integers in [−scale, scale] and no square root ever appears; L∞
      normalization replaces the L2 norm precisely because it keeps the
      arithmetic closed over integers).
    * after ``iters`` rounds emit (pos, v_i, component, eigval) with the
      Rayleigh quotient eigval = (vᵀAv)/(vᵀv)·(1/quant²) from exact
      integers via one fixed double expression.

    Scale shape: per-partition XᵀX is linear work any exact Gram pays,
    fully vectorized; each partition ships exactly D·(D+1)/2 rows, so
    the ONLY shuffle is a ≤D²-key aggregate; the iteration itself is
    driver arithmetic on D integers (Python bigints — no overflow at
    any magnitude; the SQL twin uses HUGEINT/DECIMAL). Exactness
    envelope: matmul chunks of 1024 rows keep int64 accumulation safe
    for |x| ≤ ~90 at quant=1e6 (1024·(9e7)² < 2⁶³); the envelope is
    ENFORCED — a hotter quantized element raises ValueError instead of
    wrapping silently (lower ``quant`` for wild value ranges). Chunk
    partials are merged as Python ints — exact at any corpus size.
    Ragged vector widths pad with zeros (absent positions contribute
    nothing, the pre-r7 posexplode semantics). Five iterations is a
    spec'd computation, not a convergence claim — both engines compute
    the identical vector wherever it stands.
    """
    dec38 = "decimal(38,0)"
    # NULL tolerance (code-review r7): a NULL element quantizes to 0 —
    # a zero contributes exactly nothing to every product, which is what
    # the old NULL-skipping SUM computed; whole-NULL/empty vectors are
    # dropped (they contributed no rows to the old posexplode). Without
    # this, np.array over a batch containing None raises on the executor.
    qdf = _non_null(emb, vec_col).select(
        _quant_expr(vec_col, quant).alias("__qv")
    )

    def _gram_partial(batches):
        import numpy as np
        import pandas as pd

        # 1024-row chunks keep the int64 matmul exact iff every quantized
        # element is below this bound (1024 · q² < 2⁶³); past it the
        # matmul would WRAP silently — fail loudly instead
        q_max = 94_000_000
        acc = None
        for pdf in batches:
            if pdf.empty:
                continue
            rows = pdf["__qv"].tolist()
            width = max(len(a) for a in rows)
            if all(len(a) == width for a in rows):
                x = np.array(rows, dtype=np.int64)
            else:
                # ragged dimensions: absent positions contribute nothing,
                # exactly like the pre-r7 posexplode Gram — pad with 0
                x = np.zeros((len(rows), width), dtype=np.int64)
                for i, a in enumerate(rows):
                    x[i, : len(a)] = a
            if int(np.abs(x).max()) > q_max:
                raise ValueError(
                    "pca_top_component: |quantized element| exceeds the "
                    f"int64 chunk-matmul envelope ({q_max}); lower `quant` "
                    "for this value range"
                )
            if acc is None:
                acc = np.zeros((width, width), dtype=object)
            elif width > acc.shape[0]:
                g = np.zeros((width, width), dtype=object)
                g[: acc.shape[0], : acc.shape[1]] = acc
                acc = g
            elif width < acc.shape[0]:
                x = np.pad(x, ((0, 0), (0, acc.shape[0] - width)))
            # chunked so the int64 matmul cannot overflow (envelope above);
            # the object-dtype accumulator is exact
            for s in range(0, x.shape[0], 1024):
                c = x[s : s + 1024]
                acc = acc + c.T @ c
        if acc is None:
            return
        iu, ju = np.triu_indices(acc.shape[0])
        # stringified: arbitrary-precision partials survive the hop back
        # to the JVM, where the DECIMAL(38,0) merge stays exact
        yield pd.DataFrame(
            {
                "__i": iu.astype("int32"),
                "__j": ju.astype("int32"),
                "__g": [str(acc[a, b]) for a, b in zip(iu, ju)],
            }
        )

    gram_rows = (
        qdf.mapInPandas(_gram_partial, "__i int, __j int, __g string")
        .groupBy("__i", "__j")
        .agg(F.sum(F.col("__g").cast(dec38)).alias("__g"))
        .collect()
    )
    if not gram_rows:
        raise ValueError("empty embedding table")
    d = max(r["__j"] for r in gram_rows) + 1
    A = [[0] * d for _ in range(d)]
    for r in gram_rows:
        g = int(r["__g"])
        A[r["__i"]][r["__j"]] = g
        A[r["__j"]][r["__i"]] = g  # symmetry: the mirror was not computed

    v = [scale] + [0] * (d - 1)
    for _ in range(iters):
        w = [sum(A[i][j] * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in w)
        if m == 0:
            raise ValueError("zero Gram action: degenerate input")
        # python // floors; the SQL twin uses the sign-safe fdiv to match
        v = [(w[i] * scale) // m for i in range(d)]

    w = [sum(A[i][j] * v[j] for j in range(d)) for i in range(d)]
    num = sum(v[i] * w[i] for i in range(d))
    den = sum(x * x for x in v)
    # mirror the twin's CAST-then-divide tree exactly (big ints round at
    # the cast, not inside the division)
    eig = (float(num) / float(den)) / (float(quant) * float(quant))
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(i, int(v[i]), float(v[i]) / float(scale), eig) for i in range(d)],
        "pos int, v_i long, component double, eigval double",
    )


def _np_sil_fn(cents: list[tuple[int, list[int]]]):
    """Arrow-batched exact (a, b) silhouette distances — same int64
    kernel as :func:`_np_assign_fn`: a = own-centroid squared distance,
    b = min over the others; both exact BIGINTs, bit-identical to the
    expression path's struct filters."""
    import numpy as np

    cids = [int(cid) for cid, _ in cents]
    C = np.array([c for _, c in cents], dtype=np.int64)
    pos = {cid: i for i, cid in enumerate(cids)}

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["__qv"].to_numpy()).astype(np.int64, copy=False)
            dm = _np_sq_dists(X, C)
            idx = pdf["cluster"].map(pos).to_numpy()
            r = np.arange(len(X))
            a = dm[r, idx]
            masked = dm.copy()
            masked[r, idx] = np.iinfo(np.int64).max
            b = masked.min(axis=1)
            yield pd.DataFrame({"cluster": pdf["cluster"], "__a": a, "__b": b})

    return fn


def kmeans_silhouette(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 5,
    quant: int = 10**6,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Per-cluster SIMPLIFIED SILHOUETTE for :func:`kmeans_exact` — the
    certified clustering-quality readout: for each point, a = squared
    distance to its OWN centroid, b = min squared distance to any OTHER
    centroid, s = (b − a) / max(a, b) ∈ (−1, 1]; the report is each
    cluster's size and mean s. Near 1 = tight and well-separated; near 0
    = boundary soup; negative = mis-assigned mass.

    Spec choices that keep it hash-exact: the SQUARED-distance variant
    (classic silhouette's sqrt would leave the integers; the squared
    form preserves the sign and the [worse/better] ordering), a and b
    are exact BIGINTs from the same literal-centroid row-local distances
    as the assignment pass, s is one fixed double expression, and the
    order-sensitive mean goes through the DECIMAL(28,14) detour like the
    LM scorers. k = 1 raises (no "other centroid" exists).

    Scale shape: one extra map-only pass over the assignment relation
    (all k distances are row-local; a is the assignment's own min, b a
    second array_min over the non-assigned structs) + one |clusters|-key
    rollup. Output: (cluster, n, mean_silhouette).

    ``assigned``: a precomputed :func:`kmeans_exact` result (any relation
    with (id_col, cluster)) — the ``toks=`` convention from
    ``text.tokenized``: a pipeline that computes the clustering AND its
    quality readout passes the assignment in and pays the Lloyd loop
    ONCE; when omitted the loop runs here with (k, iters, quant).
    """
    if k < 2:
        raise ValueError("silhouette needs k >= 2")
    if assigned is None:
        assigned = kmeans_exact(emb, id_col, vec_col, k, iters, quant)
    q = _non_null(emb, vec_col).select(
        F.col(id_col), _quant_expr(vec_col, quant).alias("__qv")
    ).join(assigned.select(id_col, "cluster"), id_col)
    # recompute the final centroids exactly as kmeans_exact's last update
    # would: they are a pure function of the assignment (sign-safe fdiv);
    # same static rollup compile as the Lloyd loop (k·D key space)
    rollup = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(
            max(1, min(256, emb.rdd.getNumPartitions() // 64))
        ),
    }
    with scoped_confs(emb.sparkSession, rollup):
        upd = (
            q.select("cluster", F.posexplode("__qv").alias("__pos", "__q"))
            .groupBy("cluster", "__pos")
            .agg(F.sum("__q").alias("__s"), F.count(F.lit(1)).alias("__n"))
            .select(
                "cluster",
                "__pos",
                F.expr("(__s - ((__s % __n) + __n) % __n) div __n").alias("__cv"),
                "__n",  # per-cluster member count, for the kernel size gate
            )
            .collect()
        )
    by_c: dict[int, dict[int, int]] = {}
    n_rows = 0
    for r in upd:
        if r["__pos"] == 0:
            n_rows += r["__n"]
        by_c.setdefault(r["cluster"], {})[r["__pos"]] = r["__cv"]
    cents = [(c, [d[p] for p in sorted(d)]) for c, d in sorted(by_c.items())]
    if len(cents) < 2:
        raise ValueError("all mass collapsed into one cluster")
    # size gate from counts the update already aggregated (zero extra
    # jobs) — same rationale as kmeans_exact's _NP_MIN_ROWS gate
    use_np = (not _FORCE_EXPR) and n_rows >= _NP_MIN_ROWS
    # one (d, c) struct array per row (compile-once form, see
    # _dist_structs): a = the own-cluster entry, b = min over the rest.
    # r12: fixed-width null-free rows assigned to a known centroid take
    # the exact int64 numpy kernel (_np_sil_fn — same split rule and
    # bit-equality argument as kmeans_exact's assignment); everything
    # else keeps the expression path.
    from pyspark.sql import types as _T

    dists = _dist_structs(cents)
    own = F.filter(dists, lambda s: s["c"] == F.col("cluster"))[0]["d"]
    other = F.array_min(
        F.filter(dists, lambda s: s["c"] != F.col("cluster"))
    )["d"]
    D0 = len(cents[0][1])
    known = [cid for cid, _ in cents]
    is_clean = (
        (F.size("__qv") == D0)
        & ~F.exists("__qv", lambda x: x.isNull())
        & F.col("cluster").isin(known)
    )
    if use_np and {len(c) for _, c in cents} == {D0}:
        ab_schema = _T.StructType(
            [
                q.schema["cluster"],
                _T.StructField("__a", _T.LongType()),
                _T.StructField("__b", _T.LongType()),
            ]
        )
        pre = (
            q.filter(is_clean)
            .select("cluster", "__qv")
            .mapInPandas(_np_sil_fn(cents), ab_schema)
            .unionByName(
                q.filter(~is_clean).select(
                    "cluster", own.alias("__a"), other.alias("__b")
                )
            )
        )
    else:
        pre = q.select("cluster", own.alias("__a"), other.alias("__b"))
    s = (
        (F.col("__b") - F.col("__a")).cast("double")
        / F.greatest(F.col("__a"), F.col("__b")).cast("double")
    )
    scored = pre.select(
        "cluster",
        F.when(
            F.greatest(F.col("__a"), F.col("__b")) == 0, F.lit(0.0)
        ).otherwise(s).alias("__s"),
    )
    return scored.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.col("__s").cast("decimal(28,14)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_silhouette"),
    )
