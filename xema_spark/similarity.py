"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k. The query set is broadcast (it's
  small by construction); the corpus is scanned once, no shuffle on the big
  side except the final per-query top-k (a tiny aggregate of k rows per
  query). Dot products are F.zip_with + F.aggregate — JVM-side, codegen'd.
- lsh_topk: random-hyperplane LSH. Sign-bit signatures computed from
  deterministic pseudo-random planes (hash-mixed, no RNG state), banded into
  buckets; candidates = bucket collisions, then exact cosine re-rank. At
  10^12 rows this touches only colliding buckets instead of the full corpus.
- cosine_near_dups: embedding near-duplicate pairs above a cosine threshold,
  LSH-bucketed self-join (the embedding flavor of dedup.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with pre-staged norms — the ONE definition of the epsilon
    guard, so a caller that stages per-vector norms (one fold per pair
    instead of three) can never drift from cosine() proper."""
    return dot(a, b) / (na * nb + F.lit(1e-12))


def cosine(a: Column, b: Column) -> Column:
    return cosine_from_norms(a, b, norm(a), norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Exact cosine top-k per query. queries MUST be small (it is broadcast
    and the corpus-side cost is |corpus| x |queries| dot products)."""
    j = corpus.crossJoin(F.broadcast(queries))
    scored = j.select(
        F.col(q_id_col), F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(q_vec_col)), 6).alias("cos"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def threshold_neighbor_counts(corpus: DataFrame, queries: DataFrame,
                              threshold: float,
                              id_col: str = "vec_id", vec_col: str = "embedding",
                              q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Per-query count of corpus vectors with cosine >= threshold.

    Deliberately window-free: a row_number window partitioned by q_id would
    shuffle every scored row into |queries| reducer tasks — worst-case skew
    at scale. A threshold count needs only filter + partial-aggregated
    groupBy (map-side combine leaves one row per (task, query))."""
    j = corpus.crossJoin(F.broadcast(queries))
    scored = j.select(
        F.col(q_id_col),
        F.round(cosine(F.col(vec_col), F.col(q_vec_col)), 6).alias("cos"))
    return (scored.filter(F.col("cos") >= threshold)
            .groupBy(q_id_col).agg(F.count(F.lit(1)).alias("n_similar")))


def _py_norm(vec: list[float]) -> float:
    """Driver-side replica of norm(): left-to-right sum of squares then
    sqrt — the identical IEEE-double op sequence, so staging a centroid's
    norm as a literal cannot drift from the Column fold."""
    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _plane(dim: int, p: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane p (no RNG state:
    splitmix64-style hash of (p, d))."""
    out = []
    for d in range(dim):
        z = (p * 0x9E3779B97F4A7C15 + d * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) % (1 << 64)
        z = (z ^ (z >> 31)) % (1 << 64)
        out.append(((z % 2000001) - 1000000) / 1000000.0)
    return out


def lsh_signature(vec: Column, dim: int, n_planes: int = 16) -> Column:
    """Sign-bit signature as a bigint (bit p = sign of dot(vec, plane_p))."""
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _plane(dim, p)])
        bit = (dot(vec, plane) > 0).cast("long")
        sig = sig.bitwiseOR(F.shiftleft(bit, p))
    return sig


def lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
             n_planes: int = 48, bands: int = 12,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Approximate top-k: corpus and queries are bucketed by LSH band keys;
    only colliding (band, key) pairs are scored. Recall grows with bands
    (OR-construction); cost is the bucket-join instead of the cross join.

    Defaults (raised in r5, measured on the sf0.1 embeddings — 2k x dim-64
    near-uniform vectors, recall@10 vs brute_force_topk in SCALING.md):
    48 planes / 12 bands keeps the per-band selectivity at r=4 bits
    (16 keys per band, so expected bucket size stays N/16 — the quantity
    that controls cost at scale) while tripling the OR-constructions vs the
    old 16/4 default, lifting measured recall 0.503 -> 0.852. Lowering r
    instead (e.g. 16 planes / 8 bands = 0.980 recall here) is a trap: 2-bit
    bands make every bucket N/4 of the corpus, which is near-all-pairs at
    production N."""
    r = n_planes // bands

    def band_keys(sig: Column) -> Column:
        # band offsets are compile-time constants (literal shifts) — unrolled
        return F.array(*[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.shiftrightunsigned(sig, b * r)
                .bitwiseAND(F.lit((1 << r) - 1)).alias("key"),
            )
            for b in range(bands)
        ])

    # signature staged ONCE per row through a projection: inlining the
    # lsh_signature expression into every band struct would re-run its
    # n_planes interpreted-HOF dot folds per band (HOFs are CodegenFallback
    # — no CSE), i.e. 12x the signature cost at the 48/12 default
    c = (corpus.select(id_col, vec_col,
                       lsh_signature(F.col(vec_col), dim, n_planes)
                       .alias("__sig"))
         .select(id_col, vec_col,
                 F.explode(band_keys(F.col("__sig"))).alias("bk"))
         .select(id_col, vec_col, "bk.band", "bk.key"))
    q = (queries.select(q_id_col, q_vec_col,
                        lsh_signature(F.col(q_vec_col), dim, n_planes)
                        .alias("__sig"))
         .select(q_id_col, q_vec_col,
                 F.explode(band_keys(F.col("__sig"))).alias("bk"))
         .select(q_id_col, q_vec_col, "bk.band", "bk.key"))
    cand = c.join(F.broadcast(q), ["band", "key"]).select(
        q_id_col, id_col,
        F.round(cosine(F.col(vec_col), F.col(q_vec_col)), 6).alias("cos"),
    ).dropDuplicates([q_id_col, id_col])
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def train_ivf_centroids(corpus: DataFrame, n_cells: int = 16, iters: int = 2,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        round_decimals: int = 6) -> list[tuple[int, list[float]]]:
    """Lloyd-refine IVF centroids: seed with the n_cells smallest ids, then
    `iters` rounds of (assign each vector to its max-cosine cell -> new
    centroid = elementwise mean of the cell's members). Returns
    [(cid, vec)] for ivf_topk(centroids=...).

    Scale shape: each round is ONE pass over the corpus — cell assignment is
    the same literal/broadcast scoring ivf_topk uses, and the elementwise
    mean is posexplode(vec) -> groupBy(cell, pos) avg -> rebuild (dim is
    bounded, the exploded frame is |corpus| x dim rows with full partial
    aggregation). Only n_cells x dim numbers ever reach the driver per
    round. Components are rounded to `round_decimals` after each round so
    the whole training loop is deterministic double math an external oracle
    (DuckDB) can replay; cells that lose all members keep their previous
    centroid (standard Lloyd degenerate-cell handling)."""
    cents = [(int(r[0]), [float(x) for x in r[1]]) for r in
             corpus.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()]
    if not cents:
        raise ValueError("train_ivf_centroids: corpus has no rows")
    for _ in range(iters):
        scores = F.array(*[
            F.struct(F.round(cosine(F.col(vec_col),
                                    F.array(*[F.lit(x) for x in cvec])),
                             round_decimals).alias("cos"),
                     F.lit(cid).alias("cid"))
            for cid, cvec in cents
        ])
        # stage the score array through a projection first: struct field
        # aliases inside a raw expression aren't resolved for getField
        assigned = (corpus.withColumn("__scores", scores)
                    .select(F.array_max("__scores").getField("cid").alias("cell"),
                            F.posexplode(F.col(vec_col)).alias("pos", "val")))
        rows = (assigned.groupBy("cell", "pos")
                .agg(F.round(F.avg("val"), round_decimals).alias("m"))
                .groupBy("cell")
                .agg(F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"]).alias("vec"))
                .collect())
        new = {int(r["cell"]): [float(x) for x in r["vec"]] for r in rows}
        cents = [(cid, new.get(cid, cvec)) for cid, cvec in cents]
    return cents


def _resolve_centroids(corpus: DataFrame, centroids, n_cells: int,
                       id_col: str, vec_col: str,
                       caller: str) -> list[tuple[int, list[float]]]:
    """Normalize the centroid argument both IVF consumers share: an
    explicit (cid, vec) list (e.g. train_ivf_centroids output) passes
    through; None falls back to the n_cells smallest-id corpus vectors,
    labeled POSITIONALLY 0..n-1 (cell ids are labels, not row ids — the
    corpus id may be a string, which int() would crash on). Deterministic
    either way, so oracles can re-derive it (rank-in-id-order)."""
    if centroids is not None:
        cents = [(int(cid), [float(x) for x in cvec]) for cid, cvec in centroids]
        if not cents:
            raise ValueError(f"{caller}: empty centroid list")
        return cents
    cent_rows = corpus.select(id_col, vec_col).orderBy(id_col) \
        .limit(n_cells).collect()
    if not cent_rows:
        raise ValueError(f"{caller}: corpus has no rows to draw centroids from")
    return [(i, [float(x) for x in r[1]]) for i, r in enumerate(cent_rows)]


def _centroid_scorer(session, cents: list[tuple[int, list[float]]],
                     inline_max_literals: int):
    """The one centroid-scoring dispatch ivf_topk and semantic_dedupe
    share: returns with_scores(df, vec) adding `__scores` =
    array<struct<cos,cid>> (cos round-6, so array_max / sort_array order
    by cos then cid — an explicit, engine-independent tie-break). Small
    centroid sets inline as plan literals (pure projection, no join);
    above inline_max_literals they ride as ONE broadcast row of
    array<struct<cid,vec>> + F.transform — same math, O(1) plan size
    (see ivf_topk's docstring for the full rationale)."""
    dim = len(cents[0][1])
    # Per-ROW norm staged once and per-CENTROID norms precomputed (Python
    # fold in the same left-to-right IEEE order as similarity.norm, so the
    # doubles are bit-identical): cosine() inlined per centroid would
    # re-run the interpreted norm fold n_cells times per row — HOFs are
    # CodegenFallback, so nothing eliminates the common subexpression.
    # Each cell then costs ONE dot fold (cosine_from_norms).
    if len(cents) * dim <= inline_max_literals:
        def with_scores(df: DataFrame, vec: Column) -> DataFrame:
            staged = df.withColumn("__vn", norm(vec))
            return staged.withColumn("__scores", F.array(*[
                F.struct(F.round(cosine_from_norms(
                    vec, F.array(*[F.lit(x) for x in cvec]),
                    F.col("__vn"), F.lit(_py_norm(cvec))), 6).alias("cos"),
                         F.lit(cid).alias("cid"))
                for cid, cvec in cents
            ])).drop("__vn")
    else:
        cent_df = session.createDataFrame(
            [([(cid, cvec, _py_norm(cvec)) for cid, cvec in cents],)],
            "__cents array<struct<cid:int,vec:array<double>,nrm:double>>")

        def with_scores(df: DataFrame, vec: Column) -> DataFrame:
            return (df.join(F.broadcast(cent_df))
                    .withColumn("__vn", norm(vec))
                    .withColumn("__scores", F.transform(
                        F.col("__cents"),
                        lambda c: F.struct(
                            F.round(cosine_from_norms(
                                vec, c["vec"], F.col("__vn"), c["nrm"]),
                                6).alias("cos"),
                            c["cid"].alias("cid"))))
                    .drop("__cents", "__vn"))
    return with_scores


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_cells: int = 16, n_probe: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             inline_max_literals: int = 4096,
             centroids: list[tuple[int, list[float]]] | None = None) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into n_cells
    Voronoi cells (by cosine) around deterministic centroids — the n_cells
    smallest ids by default, or pass centroids=train_ivf_centroids(...) for
    Lloyd-refined cells — then each query scans only its n_probe nearest
    cells instead of the full corpus.

    The n_probe default was raised 4 -> 8 in r5: measured recall@10 vs
    brute_force_topk on the sf0.1 embeddings (2k near-uniform dim-64
    vectors, SCALING.md) was 0.560 at n_probe=4 and 0.789 at n_probe=8
    (0.825 with trained centroids — the recommended scale path). Uniform
    synthetic vectors are IVF's worst case (neighbors spread evenly across
    cells, recall ~= scan fraction); clustered real embeddings do better at
    the same probe fraction.

    Scale shape: centroids are collected once (n_cells rows). When
    n_cells*dim <= inline_max_literals they are inlined as plan literals, so
    cell assignment is a pure Column projection (no join, no shuffle).
    ABOVE the threshold (production shape: thousands of kmeans cells x ~1k
    dims) literal inlining would bake millions of expressions into the plan
    twice — a driver/analysis blowup — so the centroids ride along as ONE
    broadcast row holding array<struct<cid,vec>> (BroadcastNestedLoopJoin of
    a 1-row frame; there is no equi-key to hash on for an argmax-over-all-
    centroids, so a nested-loop broadcast of one row IS the right join) and
    scoring becomes F.transform over that array — same math, O(1) plan size.
    The probe join then touches ~n_probe/n_cells of the data; the final
    top-k window runs over candidates only, never the whole corpus.
    Everything is deterministic double math — DuckDB can replay it
    bit-for-bit (ties broken by cos DESC, cid DESC)."""
    cents = _resolve_centroids(corpus, centroids, n_cells, id_col, vec_col,
                               caller="ivf_topk")
    with_scores = _centroid_scorer(corpus.sparkSession, cents,
                                   inline_max_literals)

    corpus_cells = with_scores(corpus.select(id_col, vec_col), F.col(vec_col)) \
        .select(F.col(id_col), F.col(vec_col),
                F.array_max(F.col("__scores")).getField("cid").alias("cell"))
    probes = with_scores(queries.select(q_id_col, q_vec_col), F.col(q_vec_col)) \
        .select(F.col(q_id_col), F.col(q_vec_col),
                F.explode(F.slice(F.sort_array(F.col("__scores"), asc=False),
                                  1, n_probe)).alias("p")) \
        .select(q_id_col, q_vec_col, F.col("p.cid").alias("cell"))
    cand = corpus_cells.join(F.broadcast(probes), "cell").select(
        F.col(q_id_col), F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(q_vec_col)), 6).alias("cos"))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id_col, id_col, "cos", "rank"))


def cosine_near_dups(df: DataFrame, dim: int, threshold: float = 0.95,
                     n_planes: int = 16, bands: int = 4,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     max_bucket: int = 256) -> DataFrame:
    """Embedding near-duplicate pairs (cos >= threshold) via LSH-bucketed
    self-join + exact cosine verification; max_bucket caps degenerate buckets
    (same rationale as dedup.lsh_candidate_pairs)."""
    r = n_planes // bands
    # signature staged through a projection ONCE: referencing the
    # lsh_signature expression inside each of the `bands` structs would
    # re-run its n_planes interpreted-HOF dot folds per band (HOFs are
    # CodegenFallback — no common-subexpression elimination). Per-vector
    # norm staged the same way so pair verification needs one fold (the
    # dot), not three — same float ops in the same order, so round-6
    # cosines are bit-identical (the semantic_dedupe pattern).
    staged = df.select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("vec"),
        lsh_signature(F.col(vec_col), dim, n_planes).alias("__sig"),
        norm(F.col(vec_col)).alias("__n"))
    banded = staged.select(
        "doc", "vec", "__n",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.shiftrightunsigned(F.col("__sig"), b * r)
                .bitwiseAND(F.lit((1 << r) - 1)).alias("key"),
            )
            for b in range(bands)
        ])).alias("bk"),
    ).select("doc", "vec", "__n", "bk.band", "bk.key")
    # cap degenerate buckets BEFORE the pair explosion (a bucket of B docs
    # yields B^2 pairs): collect each bucket once, drop singletons and
    # hot buckets, then unroll ordered pairs — same guard as
    # dedup.lsh_candidate_pairs
    from xema_spark.dedup import _ordered_pairs

    grouped = (banded.groupBy("band", "key")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col("doc"), F.col("vec"), F.col("__n"))))
                    .alias("ds"))
               .filter((F.size("ds") > 1) & (F.size("ds") <= max_bucket)))
    pairs = (grouped.select(F.explode(_ordered_pairs(F.col("ds"))).alias("p"))
             .select(F.col("p.a.doc").alias("doc_a"), F.col("p.b.doc").alias("doc_b"),
                     F.round(cosine_from_norms(
                         F.col("p.a.vec"), F.col("p.b.vec"),
                         F.col("p.a.__n"), F.col("p.b.__n")), 6).alias("cos"))
             .filter(F.col("cos") >= threshold)
             .dropDuplicates(["doc_a", "doc_b"]))
    return pairs


def semantic_dedupe(df: DataFrame, n_cells: int = 16,
                    threshold: float = 0.95,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    centroids: list[tuple[int, list[float]]] | None = None,
                    max_cell: int = 1024,
                    inline_max_literals: int = 4096) -> DataFrame:
    """SemDeDup (public technique: Abbas et al. 2023, arXiv:2303.09540):
    cluster the corpus embeddings into k-means cells, find near-duplicate
    pairs (cosine >= threshold) ONLY within each cell, group them into
    connected components, and keep ONE representative per component — the
    member LEAST similar to its cell centroid (the paper's keep-the-most-
    atypical policy; it preserves coverage at the cluster edge), ties
    broken on the smallest id. One verdict row per input vector:
    (id_col, cell, cent_cos, component, is_kept) — component is NULL and
    is_kept true for vectors with no near-duplicate; filter on is_kept for
    the deduped corpus, or join the verdicts back for analytics.

    Pass centroids=train_ivf_centroids(...) for Lloyd-refined cells (the
    paper's setting); the default takes the n_cells smallest-id vectors so
    the whole chain stays closed-form replayable.

    Scale shape (100 TB of embeddings): cell assignment is the same
    inline-literal / one-broadcast-row dispatch as ivf_topk — a pure
    projection, no corpus shuffle; the pair search collects each CELL once
    and unrolls ordered pairs only inside it (never a corpus self-join),
    with max_cell capping degenerate cells exactly like
    cosine_near_dups' max_bucket — at real scale pick n_cells so cells
    average well under max_cell (the paper uses ~10^4-10^5 clusters).
    Components run on the pair graph only (pairs are intra-cell, so a
    component is <= one cell); the keeper window partitions by component —
    every partition bounded by max_cell, no skew."""
    from xema_spark.dedup import _ordered_pairs, connected_components

    cents = _resolve_centroids(df, centroids, n_cells, id_col, vec_col,
                               caller="semantic_dedupe")
    with_scores = _centroid_scorer(df.sparkSession, cents,
                                   inline_max_literals)
    assigned = (with_scores(df.select(F.col(id_col).alias("doc"),
                                      F.col(vec_col).alias("vec")),
                            F.col("vec"))
                .withColumn("_best", F.array_max("__scores"))
                .select("doc", "vec",
                        F.col("_best").getField("cid").alias("cell"),
                        F.col("_best").getField("cos").alias("cent_cos")))
    # per-VECTOR norm staged before the pair unroll: the pair cosine then
    # needs one interpreted-HOF fold (the dot) instead of three, same
    # float ops in the same order so round-6 values are bit-identical
    # (measured 1.15x on the sf0.1 pair stage, SCALING.md "SemDeDup")
    staged = assigned.withColumn("_n", norm(F.col("vec")))
    grouped = (staged.groupBy("cell")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col("doc"), F.col("vec"), F.col("_n"))))
                    .alias("ds"))
               .filter((F.size("ds") > 1) & (F.size("ds") <= max_cell)))
    pairs = (grouped.select(F.explode(_ordered_pairs(F.col("ds"))).alias("p"))
             .select(F.col("p.a.doc").alias("doc_a"),
                     F.col("p.b.doc").alias("doc_b"),
                     F.round(cosine_from_norms(
                         F.col("p.a.vec"), F.col("p.b.vec"),
                         F.col("p.a._n"), F.col("p.b._n")), 6)
                     .alias("cos"))
             .filter(F.col("cos") >= F.lit(float(threshold)))
             .select("doc_a", "doc_b"))
    comp = connected_components(pairs)
    w = Window.partitionBy("component").orderBy(F.asc("cent_cos"),
                                                F.asc("doc"))
    dup = (assigned.join(comp, "doc")
           .withColumn("_rn", F.row_number().over(w))
           .select("doc", "component", (F.col("_rn") == 1).alias("_kept")))
    return (assigned.join(dup, "doc", "left")
            .select(F.col("doc").alias(id_col), "cell", "cent_cos",
                    "component",
                    F.coalesce("_kept", F.lit(True)).alias("is_kept")))


def prototypicality_filter(df: DataFrame, n_cells: int = 16,
                           drop_frac: float = 0.2,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           centroids: list[tuple[int, list[float]]] | None = None,
                           approx: bool = False,
                           inline_max_literals: int = 4096) -> DataFrame:
    """SSL-prototypes pruning (public technique: the D4 pipeline, Tirumala
    et al. 2023 arXiv:2308.12284, building on Sorscher et al. 2022): drop
    the `drop_frac` MOST prototypical vectors of each k-means cell — the
    ones closest to their centroid carry the least marginal information;
    the cluster edges carry the diversity. The complement of SemDeDup
    (which removes near-IDENTICAL points); D4 runs both.

    Per cell: thr = percentile(cent_cos, 1 - drop_frac); rows with
    cent_cos >= thr are dropped. Returns one verdict row per vector:
    (id_col, cell, cent_cos, is_kept) — interpolated-percentile ties make
    the realized fraction approximate, which matches the technique (the
    percentile is a soft knob, not an exact quota).

    Scale shape: cell assignment is the shared inline/broadcast centroid
    dispatch (no corpus shuffle); the threshold table is ONE
    partial-aggregated groupBy(cell) of <= n_cells rows, broadcast back;
    the verdict is then a pure projection — no window, no per-cell
    straggler. The default exact `percentile` buffers each cell's values
    in its aggregate (fine while cells fit an executor; it is also what
    DuckDB's quantile_cont reproduces bit-for-bit for the oracle);
    approx=True swaps in percentile_approx for production-sized cells —
    identical plan shape, no oracle."""
    if not 0.0 < drop_frac < 1.0:
        raise ValueError(f"drop_frac must be in (0,1), got {drop_frac}")
    cents = _resolve_centroids(df, centroids, n_cells, id_col, vec_col,
                               caller="prototypicality_filter")
    with_scores = _centroid_scorer(df.sparkSession, cents,
                                   inline_max_literals)
    assigned = (with_scores(df.select(F.col(id_col), F.col(vec_col)),
                            F.col(vec_col))
                .withColumn("_best", F.array_max("__scores"))
                .select(F.col(id_col),
                        F.col("_best").getField("cid").alias("cell"),
                        F.col("_best").getField("cos").alias("cent_cos")))
    p = float(1.0 - drop_frac)
    fn = "percentile_approx" if approx else "percentile"
    thr = (assigned.groupBy("cell")
           .agg(F.expr(f"{fn}(cent_cos, {p!r})").alias("_thr")))
    return (assigned.join(F.broadcast(thr), "cell")
            .select(id_col, "cell", "cent_cos",
                    (F.col("cent_cos") < F.col("_thr")).alias("is_kept")))


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        out_col: str = "qvec",
                        scale_col: str = "scale") -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    4x storage/bandwidth cut an ANN index wants before it shuffles vectors
    (public technique: Jegou et al. PQ / faiss SQ8). Per vector:
    scale = max|x| / 127, q_i = floor(x_i/scale + 0.5) in [-127, 127]
    (floor(x+0.5) is half-up in both Spark and DuckDB — round() is not).
    All-zero vectors get scale 0 and an all-zero qvec.

    Adds (out_col: array<int>, scale_col: double); dequantize with
    q_i * scale. Arithmetic is cast to double BEFORE the divide so the
    float32 column quantizes identically cross-engine.

    Scale shape: one projection, no shuffle. The row max is staged in its
    own column; whether Catalyst re-inlines it into the per-element lambda
    is measured in SCALING.md ("Quantization max staging").
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.withColumn("_absmax", F.array_max(F.transform(v, F.abs)))
    q = F.when(
        F.col("_absmax") > 0,
        F.transform(v, lambda x: F.floor(
            x * F.lit(127.0) / F.col("_absmax") + F.lit(0.5)).cast("int"))
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return (staged
            .withColumn(out_col, q)
            .withColumn(scale_col, F.col("_absmax") / F.lit(127.0))
            .drop("_absmax"))


def projection_signs(out_dim: int, in_dim: int,
                     seed: str = "v1") -> list[list[float]]:
    """Deterministic ±1 random-projection matrix (Achlioptas 2003 — a
    Rademacher sign matrix satisfies the JL lemma): sign(j, i) = +1 iff
    portable md5-31 hash of "seed|j|i" is even. Content-addressed like the
    sampling salts, so every run, engine, and oracle derives the identical
    matrix; the DuckDB-side expression is
    ((('0x' || substr(md5(seed||'|'||j||'|'||i), 1, 15))::BIGINT
      % 2147483647) % 2)."""
    import hashlib

    if out_dim < 1 or in_dim < 1:
        raise ValueError(
            f"out_dim/in_dim must be >= 1, got {out_dim}/{in_dim}")
    p31 = (1 << 31) - 1

    def sgn(j: int, i: int) -> float:
        h = int(hashlib.md5(f"{seed}|{j}|{i}".encode()).hexdigest()[:15], 16)
        return 1.0 if (h % p31) % 2 == 0 else -1.0

    return [[sgn(j, i) for i in range(in_dim)] for j in range(out_dim)]


def project_embeddings(df: DataFrame, vec_col: str = "embedding",
                       in_dim: int = 64, out_dim: int = 16,
                       seed: str = "v1", out_col: str = "proj",
                       inline_max_literals: int = 4096) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction of an embedding column
    by a deterministic ±1 sign matrix: proj_j = sum_i v_i * sign(j,i) /
    sqrt(out_dim) (the 1/sqrt(k) scaling that makes the projection
    distance-preserving in expectation). The cheap pre-shrink an ANN/near-dup
    stage wants before shuffling vectors — at 100 TB, projecting 768-d
    float32 to 64-d cuts the candidate-join shuffle ~12x while keeping
    cosine neighborhoods (combine with quantize_embeddings for another 4x).

    Plan shape mirrors _centroid_scorer: when out_dim*in_dim fits
    `inline_max_literals` the sign rows inline as plan literals (pure
    projection, zero joins); above it they ride as ONE broadcast row of
    array<array<double>> + F.transform — O(1) plan size either way, no
    shuffle, all JVM-side (zip_with/aggregate fold, no Python in the path).
    Elements round to 6 decimals so float32-input sums compare
    cross-engine. A non-NULL vector whose length differs from `in_dim`
    RAISES at execution (zip_with would otherwise NULL-pad and silently
    poison the fold to an all-NULL projection), and so does a
    correct-length vector containing a NULL ELEMENT (the same silent
    NULL-poisoning, through the fold instead of the padding); NULL
    vectors project to NULL."""
    signs = projection_signs(out_dim, in_dim, seed)
    vec = F.col(vec_col)
    v = F.transform(vec, lambda x: x.cast("double"))
    inv = F.lit(1.0 / math.sqrt(float(out_dim)))

    def proj_one(row_col):
        return F.round(dot(v, row_col) * inv, 6)

    def guarded(proj):
        return (F.when(vec.isNull(), F.lit(None).cast("array<double>"))
                .when(F.exists(vec, lambda x: x.isNull()),
                      F.raise_error(F.lit(
                          "project_embeddings: vector contains NULL "
                          "elements (the fold would silently NULL-poison "
                          "every projected component)")))
                .when(F.size(vec) == in_dim, proj)
                .otherwise(F.raise_error(F.concat(
                    F.lit(f"project_embeddings: expected {in_dim}-d "
                          "vectors, got length "),
                    F.size(vec).cast("string")))))

    if out_dim * in_dim <= inline_max_literals:
        out = F.array(*[proj_one(F.array(*[F.lit(s) for s in row]))
                        for row in signs])
        return df.withColumn(out_col, guarded(out))
    signs_df = df.sparkSession.createDataFrame(
        [(signs,)], "__signs array<array<double>>")
    return (df.join(F.broadcast(signs_df))
            .withColumn(out_col,
                        guarded(F.transform(F.col("__signs"), proj_one)))
            .drop("__signs"))


def decontaminate_semantic(corpus: DataFrame, benchmark: DataFrame,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           q_vec_col: str = "q_vec",
                           threshold: float = 0.95) -> DataFrame:
    """Embedding-level eval-set leakage report: per corpus vector, the MAX
    cosine against the benchmark/eval embedding set and a contamination
    flag — the semantic complement of dedup.decontaminate (token n-grams
    miss paraphrases; embeddings catch them). One row per corpus vector:
    (id_col, max_bench_cos, contaminated); drop flagged rows with a
    semi/anti join, mirroring contaminated_ids usage. `benchmark` must be
    non-empty — an empty eval set would cross-join every corpus row away
    (a gate that silently passes nothing is worse than a loud one); this
    is enforced with an eager isEmpty probe that raises ValueError.

    Scale shape (100 TB corpus, small eval set): the benchmark side is
    BROADCAST (eval sets are 10^3-10^5 vectors — the same smallness
    contract as brute_force_topk's queries); the corpus is scanned ONCE
    with |bench| JVM-codegen dot products per row (crossJoin of a
    broadcast frame, never a shuffle); the only shuffle is the final
    partial-aggregated groupBy(id) max, which map-side-combines to one
    compact row per corpus vector per task. Deliberately NOT a nested
    higher-order fold over a bench array literal: nested HOFs are
    CodegenFallback (interpreted) — the broadcast crossJoin keeps every
    dot product inside whole-stage codegen, the minhash/simhash lesson.

    Vectors are upcast to array<double> BEFORE the dot product: float32
    element multiplies round differently per engine (measured 1.8e-7 vs
    DuckDB on the sf0.01 embeddings — enough to flip a round-6 boundary),
    while the all-double pipeline is bit-identical across engines."""
    # enforce the documented precondition loudly: the benchmark side is
    # small by contract, so this eager probe is one broadcast-sized job —
    # far cheaper than a silently-empty report downstream
    if benchmark.isEmpty():
        raise ValueError(
            "decontaminate_semantic: benchmark frame is empty — an empty "
            "eval set would produce an empty report (no row per corpus "
            "vector), which a semi/anti-join consumer misreads as "
            "'everything contaminated' / 'nothing contaminated'")
    j = (corpus.select(id_col,
                       F.col(vec_col).cast("array<double>").alias(vec_col))
         .crossJoin(F.broadcast(benchmark.select(
             F.col(q_vec_col).cast("array<double>").alias(q_vec_col)))))
    scored = j.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(q_vec_col)), 6).alias("_cos"))
    return (scored.groupBy(id_col)
            .agg(F.max("_cos").alias("max_bench_cos"))
            .withColumn("contaminated",
                        F.col("max_bench_cos") >= F.lit(threshold)))
