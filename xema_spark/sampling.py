"""Reproducible sampling for training-data mixes.

`df.sample()` is seed-dependent on partitioning and Spark version; a
training pipeline that wants the SAME subset on every rerun (and an
auditable membership rule per doc) needs content-addressed sampling: a doc
is in the sample iff hash(doc_id, salt) falls below the rate threshold.
That makes sampling a pure filter — no shuffle, pushdown-friendly, stable
under repartitioning, and resumable for free (membership is a function of
the row, not of execution order).

The 'portable' flavor uses the md5-derived 31-bit hash (dedup.portable_hash31)
so an external SQL engine reproduces the exact membership set; 'xxhash64'
is the cheaper production default.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from xema_spark.dedup import _P31, bucket_hash31


def _bucket31(col: Column, salt: str, hash_fn: str) -> Column:
    return bucket_hash31(col, hash_fn, salt=salt)


def deterministic_sample(df: DataFrame, id_col: str, rate: float,
                         salt: str = "v1",
                         hash_fn: str = "xxhash64") -> DataFrame:
    """Keep ~rate of rows, membership decided by hash(id, salt) — identical
    set on every run/cluster/partitioning. Change `salt` to draw an
    independent sample; keep it to reproduce one."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    thr = int(rate * _P31)
    return df.filter(_bucket31(F.col(id_col), salt, hash_fn) < F.lit(thr))


def stratified_deterministic_sample(df: DataFrame, id_col: str,
                                    strata_col: str, rates: dict[str, float],
                                    default_rate: float = 0.0,
                                    salt: str = "v1",
                                    hash_fn: str = "xxhash64") -> DataFrame:
    """Per-stratum rates (e.g. {'en': 1.0, 'de': 0.3}): the up/down-sampling
    step of a training-mix recipe, still a pure filter — the rate threshold
    is a CASE over the stratum column, the membership hash is shared, so a
    doc's inclusion at rate r implies inclusion at every r' > r (nested
    samples: raising a stratum's rate only ADDS docs — stable curricula)."""
    for s, r in list(rates.items()) + [("default_rate", default_rate)]:
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0,1], got {r}")
    thr: Column = F.lit(int(default_rate * _P31))
    for s, r in rates.items():
        thr = F.when(F.col(strata_col) == s, F.lit(int(r * _P31))).otherwise(thr)
    return df.filter(_bucket31(F.col(id_col), salt, hash_fn) < thr)


def mixture_rates(df: DataFrame, strata_col: str,
                  target_shares: dict[str, float], total_rows: int,
                  ) -> dict[str, float]:
    """Per-stratum sampling rates that realize a training-mix RECIPE: given
    desired output proportions (e.g. {'en': 0.6, 'code': 0.4}) and a target
    corpus size, derive the rate each stratum must be sampled at from its
    OBSERVED count — the planning step recipes are written in, upstream of
    `stratified_deterministic_sample`.

    rate_k = min(1.0, share_k * total_rows / count_k). A stratum too small
    to supply its share caps at 1.0 (keep everything) and the realized mix
    honestly under-delivers that stratum — no silent re-normalization onto
    the others (spell redistribution out in the recipe instead). Strata
    absent from the recipe get rate 0.

    Scale shape: ONE partial-aggregated groupBy; only n_strata (count)
    rows reach the driver. The returned dict is a plain recipe artifact —
    log it next to the salt for auditability.
    """
    if total_rows < 0:
        raise ValueError(f"total_rows must be >= 0, got {total_rows}")
    for s, share in target_shares.items():
        if share < 0:
            raise ValueError(f"share for {s!r} must be >= 0, got {share}")
    counts = {r[0]: r[1] for r in
              df.groupBy(strata_col).agg(F.count(F.lit(1))).collect()}
    return {s: min(1.0, share * total_rows / counts[s])
            for s, share in target_shares.items()
            if counts.get(s)}


def mixture_sample(df: DataFrame, id_col: str, strata_col: str,
                   target_shares: dict[str, float], total_rows: int,
                   salt: str = "v1", hash_fn: str = "xxhash64") -> DataFrame:
    """Recipe-driven mixture: plan rates from observed counts, then apply
    the pure-filter stratified sampler — two jobs total (one tiny count
    aggregate + the filtered scan), no shuffle on the corpus."""
    rates = mixture_rates(df, strata_col, target_shares, total_rows)
    return stratified_deterministic_sample(
        df, id_col, strata_col, rates, salt=salt, hash_fn=hash_fn)


def source_caps(df: DataFrame, id_col: str, source_col: str = "source",
                cap: int = 1000, salt: str = "v1",
                hash_fn: str = "xxhash64",
                keep_rank: bool = False) -> DataFrame:
    """Per-source admission quota (the C4/RefinedWeb per-domain cap): keep
    at most `cap` docs per source value, the ones with the `cap` LOWEST
    (hash(id, salt), id) — membership is content-addressed like the
    samplers above, so the kept set is identical on every run, cluster and
    partitioning, unbiased w.r.t. arrival order, and re-drawable with a
    new salt. NULL sources form their own group (hash-ranked like any
    other).

    Scale shape (the point of this function): the naive window rank
    partitioned by source makes a hot source ONE task — a boilerplate
    domain with 10^9 docs is a straggler that never finishes. Instead:
    one partial-aggregated count per source, then a HASH PRE-BOUND admits
    only rows whose hash falls in the lowest target/count fraction of the
    hash space before any window runs, where
    target = max(ceil(1.5*cap), cap + ceil(10*sqrt(cap)) + 50). The
    admitted rows are a superset of the final kept set whenever >= cap
    rows pass (the kept set IS the hash-order prefix), and under-admission
    needs the Binomial(count, target/count) mass below cap — more than
    ~9 sigma below its mean at every cap, P < 1e-15 per source (Chernoff);
    the window then ranks partitions of O(cap) rows regardless of how hot
    the source was. Sources with count <= cap pass the pre-bound whole and
    their window partitions are <= cap rows by construction, so EVERY
    window partition is bounded and the skew is gone. One count aggregate
    + one (AQE-broadcastable) join + one bounded window.

    'portable' flavor: an external SQL engine reproduces membership AND
    rank exactly (the pre-bound provably does not change the result, so
    the oracle ranks the unbounded set)."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    import math

    from pyspark.sql import Window

    target = max(math.ceil(1.5 * cap), cap + math.ceil(10 * math.sqrt(cap)) + 50)
    h = _bucket31(F.col(id_col), salt, hash_fn)
    counts = (df.groupBy(F.col(source_col).alias("_src"))
              .agg(F.count(F.lit(1)).alias("_n")))
    # admit threshold in integer hash space: floor((target/_n) * P31);
    # _n <= target admits the whole source (fraction >= 1). The join is
    # null-SAFE so a NULL source group caps like any other (an equi-join
    # would silently drop every null-source row)
    thr = F.when(F.col("_n") <= F.lit(target), F.lit(_P31)) \
        .otherwise((F.lit(float(target)) / F.col("_n") * F.lit(_P31))
                   .cast("long"))
    admitted = (df.withColumn("_h", h)
                .join(counts,
                      F.col(source_col).eqNullSafe(F.col("_src")), "left")
                .filter(F.col("_h") < thr)
                .drop("_n", "_src"))
    w = Window.partitionBy(source_col).orderBy(F.col("_h"), F.col(id_col))
    out = (admitted.withColumn("_rk", F.row_number().over(w))
           .filter(F.col("_rk") <= F.lit(cap)))
    if keep_rank:
        return out.withColumnRenamed("_rk", "src_rank").drop("_h")
    return out.drop("_rk", "_h")


# ---------------------------------------------------------------------------
# DSIR: importance resampling toward a target distribution
# ---------------------------------------------------------------------------

def _hashed_gram_counts(df: DataFrame, id_col: str, text_col: str,
                        n_buckets: int, hash_fn: str,
                        salt: str) -> DataFrame:
    """(doc, bucket, c): per-doc hashed unigram+bigram counts — the DSIR
    feature map (Xie et al., NeurIPS 2023: bag of hashed n-grams). Tokens
    are projected once; bigrams are one lambda-free text.token_grams scan
    over them joined (empty for < 2 tokens); one explode + ONE
    partial-aggregated groupBy. NULL-text docs emit no rows (tokens
    propagate NULL, explode drops it) — callers left-join and coalesce."""
    from xema_spark.text import token_grams, tokens

    toks = df.select(F.col(id_col).alias("doc"),
                     tokens(F.col(text_col)).alias("_t"))
    bi = token_grams(F.array_join("_t", " "), 2)
    ex = (toks.select("doc", F.explode(F.concat("_t", bi)).alias("g"))
          .select("doc", F.pmod(_bucket31(F.col("g"), salt, hash_fn),
                                F.lit(n_buckets)).alias("bucket")))
    return ex.groupBy("doc", "bucket").agg(F.count(F.lit(1)).alias("c"))


def dsir_weights(raw: DataFrame, target: DataFrame, id_col: str,
                 text_col: str = "text", n_buckets: int = 4096,
                 alpha: float = 0.5, hash_fn: str = "xxhash64",
                 salt: str = "dsir-v1") -> DataFrame:
    """Per-doc DSIR importance weight of `raw` toward `target` (public
    technique: Xie et al., "Data Selection for Language Models via
    Importance Resampling", NeurIPS 2023): both corpora are featurized as
    bags of hashed unigram+bigram counts over `n_buckets` buckets, each
    side fits an add-alpha-smoothed categorical distribution over buckets,
    and a raw doc's log-weight is

        log w(x) = sum_b c_b(x) * (ln p_target(b) - ln p_raw(b))

    — how much more likely the doc's features are under the target than
    under the raw distribution. One row per raw doc:
    (id_col, n_grams, log_w), log_w rounded to 6 (unordered double sums
    differ ~1e-13 across engines). Docs with no grams (empty/NULL text)
    get n_grams = 0, log_w = 0.0 — no evidence either way.

    Scale shape (100 TB raw, small-ish target): the bucket distributions
    are <= n_buckets rows — BROADCAST both; the raw corpus is scanned
    twice (once aggregating its own bucket distribution, once scoring),
    the target once; scoring is the exploded gram frame joined to two
    broadcast tables then ONE partial-aggregated groupBy(doc). Nothing
    shuffles at corpus width except the doc-keyed weight reduction."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    rb = _hashed_gram_counts(raw, id_col, text_col, n_buckets, hash_fn, salt)
    tc = (_hashed_gram_counts(target, id_col, text_col, n_buckets,
                              hash_fn, salt)
          .groupBy("bucket").agg(F.sum("c").alias("_ct")))
    rc = rb.groupBy("bucket").agg(F.sum("c").alias("_cr"))
    tot = (tc.agg(F.sum("_ct").alias("_tot_t"))
           .crossJoin(rc.agg(F.sum("_cr").alias("_tot_r"))))
    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * n_buckets)
    # raw-side buckets always hit rc (built from the same frame); buckets
    # the target never saw take the smoothed floor via the left join
    term = (F.col("c") *
            ((F.log(F.coalesce(F.col("_ct"), F.lit(0)) + a)
              - F.log(F.col("_tot_t") + ab))
             - (F.log(F.col("_cr") + a) - F.log(F.col("_tot_r") + ab))))
    w = (rb.join(F.broadcast(tc), "bucket", "left")
         .join(F.broadcast(rc), "bucket")
         .crossJoin(F.broadcast(tot))
         .groupBy("doc")
         .agg(F.sum("c").alias("n_grams"), F.sum(term).alias("_lw")))
    return (raw.select(F.col(id_col))
            .join(w, F.col(id_col) == F.col("doc"), "left").drop("doc")
            .select(id_col,
                    F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                    F.round(F.coalesce("_lw", F.lit(0.0)), 6).alias("log_w")))


def dsir_sample(raw: DataFrame, target: DataFrame, id_col: str,
                text_col: str = "text", k: int = 1000,
                temperature: float = 1.0, n_buckets: int = 4096,
                alpha: float = 0.5, hash_fn: str = "xxhash64",
                salt: str = "dsir-v1",
                noise_salt: str = "gumbel-v1") -> DataFrame:
    """Select the k raw docs DSIR resampling keeps: Gumbel-top-k over the
    importance weights — key_i = log w_i / temperature + g_i with g_i
    standard Gumbel noise — draws k docs WITHOUT replacement with
    probability proportional to w^(1/temperature) (the Gumbel-max trick;
    temperature 1 is the paper's sampled-DSIR, large temperature
    approaches uniform, small approaches deterministic top-k by weight).

    The noise is content-addressed, not random: u_i derives from
    hash(id, noise_salt) so the selected set is identical on every
    run/cluster/partitioning and re-drawable with a new noise_salt —
    the same reproducibility contract as deterministic_sample.

    Returns (id_col, n_grams, log_w, key) for the k selected docs.
    Scale shape: dsir_weights' plan + one TakeOrderedAndProject (per-task
    top-k then k-row driver merge — never a full sort)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    w = dsir_weights(raw, target, id_col, text_col, n_buckets=n_buckets,
                     alpha=alpha, hash_fn=hash_fn, salt=salt)
    # u in (0, 1): (h+1)/(P31+1) with h in [0, P31-1] — both endpoints
    # excluded, so -ln(-ln u) is always finite
    u = ((_bucket31(F.col(id_col), noise_salt, hash_fn) + F.lit(1))
         .cast("double") / F.lit(float(_P31 + 1)))
    key = F.round(F.col("log_w") / F.lit(float(temperature))
                  - F.log(-F.log(u)), 6)
    return (w.withColumn("key", key)
            .orderBy(F.desc("key"), F.asc(id_col))
            .limit(k))


def hash_split(df: DataFrame, id_col: str,
               weights: dict[str, float],
               salt: str = "split-v1",
               hash_fn: str = "xxhash64",
               out_col: str = "split") -> DataFrame:
    """Disjoint train/val/test assignment: each row gets exactly one split
    label, decided by where hash(id, salt) falls among contiguous ranges of
    the 31-bit hash space sized by `weights` (which must sum to <= 1; any
    remainder is labeled NULL — an explicit holdout). Content-addressed
    like the samplers above: identical assignment on every
    run/cluster/partitioning, disjoint BY CONSTRUCTION (ranges never
    overlap — the failure mode of calling deterministic_sample twice with
    different salts), and stable under corpus growth (a doc's label never
    depends on other rows). Split boundaries use the same int-truncation
    as deterministic_sample so an external SQL engine reproduces the
    exact membership. One projection, no shuffle, pushdown-friendly."""
    total = sum(weights.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"weights sum to {total}, must be <= 1")
    for name, wt in weights.items():
        if wt < 0:
            raise ValueError(f"weight for {name!r} must be >= 0, got {wt}")
    h = _bucket31(F.col(id_col), salt, hash_fn)
    expr: Column = F.lit(None).cast("string")
    cum = 0.0
    for name, wt in weights.items():
        lo, cum = int(cum * _P31), cum + wt
        hi = int(cum * _P31)
        expr = F.when((h >= F.lit(lo)) & (h < F.lit(hi)),
                      F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def materialize_epochs(df: DataFrame, id_col: str, strata_col: str,
                       epochs: dict[str, float],
                       default_epochs: float = 0.0,
                       salt: str = "epochs-v1",
                       hash_fn: str = "xxhash64",
                       epoch_col: str = "epoch") -> DataFrame:
    """Materialize an UPSAMPLING recipe (fractional epochs per stratum, the
    "wiki x 3.5, web x 1, junk x 0.25" knob of a training-data mix): a row
    whose stratum has budget e is replicated for full epochs 0..floor(e)-1
    and appears in the one partial epoch floor(e) iff
    hash(id | salt | floor(e)) < frac(e) — content-addressed membership,
    same machinery as deterministic_sample, so reruns/resumes materialize
    the identical replica multiset and raising a stratum's budget only ADDS
    replicas (full epochs are supersets; the partial epoch's threshold test
    is monotone in e under the shared per-epoch hash).

    Returns the input rows replicated with `epoch_col` (int, 0-based).
    Scale shape: one projection + per-row sequence/explode — no shuffle, no
    join (the stratum->budget map is a CASE literal); output row count is
    exactly sum_s round(e_s * n_s) in expectation. At 10^12 docs the
    replicas are produced streaming inside the scan stage, never staged.
    """
    for s, e in list(epochs.items()) + [("default_epochs", default_epochs)]:
        if e < 0:
            raise ValueError(f"epochs for {s!r} must be >= 0, got {e}")
    e_col: Column = F.lit(float(default_epochs))
    for s, e in epochs.items():
        e_col = F.when(F.col(strata_col) == s, F.lit(float(e))).otherwise(e_col)
    full = F.floor(e_col).cast("int")
    n = F.ceil(e_col).cast("int")
    # sequence(0, -1) would yield [0, -1]: guard the zero-budget stratum
    seq = F.when(n > 0, F.sequence(F.lit(0), n - F.lit(1))) \
        .otherwise(F.array().cast("array<int>"))
    out = df.withColumn(epoch_col, F.explode(seq))
    t = F.col(epoch_col)
    key = F.concat(F.col(id_col).cast("string"), F.lit("|"), t.cast("string"))
    h = bucket_hash31(key, hash_fn, salt=salt)
    thr = ((e_col - full.cast("double")) * F.lit(float(_P31))).cast("long")
    return out.filter((t < full) | (h < thr))


def epoch_budgets(df: DataFrame, strata_col: str,
                  target_shares: dict[str, float],
                  total_mass: float | None = None,
                  weight_col: str | None = None,
                  max_epochs: float = 100.0) -> DataFrame:
    """The UP-sampling planner that closes the mixture loop: given target
    output shares (by row count, or by token/char MASS via `weight_col` —
    the unit training mixes are actually specified in) derive the
    fractional-epoch budget each stratum needs, epochs_s = min(max_epochs,
    share_s * T / mass_s), where T defaults to the observed corpus mass
    (corpus-size-neutral remix) or is pinned via `total_mass`. The output
    feeds `materialize_epochs`; `mixture_rates` is the DOWN-sampling
    sibling (rates capped at 1), this one replicates scarce strata above 1.
    `max_epochs` bounds the blow-up a tiny stratum with a big share would
    request — the cap is reported honestly in the budget, not silently
    redistributed.

    Returns ONE row per observed stratum: (strata_col, mass, current_share,
    target_share, epochs), doubles rounded to 6 so the plan is
    cross-engine comparable. Strata absent from the recipe get epochs 0.
    The converse — recipe strata absent from the corpus — produce NO row
    (there is no mass to replicate), so the realized mix under-delivers
    those shares; diff the budget table against the recipe keys if that
    must be loud. A stratum observed with zero mass (weight_col all
    zeros/NULLs) also gets epochs 0.0 rather than a NULL/divide blow-up:
    you cannot up-sample nothing.

    Scale shape: ONE partial-aggregated groupBy over the corpus; the
    total-mass window runs over the n_strata-row aggregate, never the
    corpus. The budget table is a recipe artifact — log it next to the
    salt."""
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    if total_mass is not None and total_mass <= 0:
        raise ValueError(f"total_mass must be > 0, got {total_mass}")
    for s, share in target_shares.items():
        if share < 0:
            raise ValueError(f"share for {s!r} must be >= 0, got {share}")
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    # coalesce: sum() of an all-NULL weight column is NULL, not 0
    agg = df.groupBy(strata_col).agg(
        F.coalesce(F.sum(w), F.lit(0.0)).alias("mass"))
    everything = Window.partitionBy()
    tot_obs = F.sum("mass").over(everything)
    tot = F.lit(float(total_mass)) if total_mass is not None else tot_obs
    share: Column = F.lit(0.0)
    for s, p in target_shares.items():
        share = F.when(F.col(strata_col) == s, F.lit(float(p))).otherwise(share)
    # zero-mass strata get 0.0 epochs (nothing to replicate) instead of a
    # NULL (non-ANSI) or DivideByZero (ANSI) reaching materialize_mixture
    epochs = F.when(
        F.col("mass") > 0,
        F.round(F.least(F.lit(float(max_epochs)),
                        share * tot / F.col("mass")), 6)).otherwise(F.lit(0.0))
    return agg.select(
        strata_col,
        "mass",
        F.coalesce(F.round(F.col("mass") / F.nullif(tot_obs, F.lit(0.0)), 6),
                   F.lit(0.0)).alias("current_share"),
        share.alias("target_share"),
        epochs.alias("epochs"))


def materialize_mixture(df: DataFrame, id_col: str, strata_col: str,
                        target_shares: dict[str, float],
                        total_mass: float | None = None,
                        weight_col: str | None = None,
                        max_epochs: float = 100.0,
                        salt: str = "epochs-v1",
                        hash_fn: str = "xxhash64",
                        epoch_col: str = "epoch") -> DataFrame:
    """Plan + execute a replicated training mix in two jobs: `epoch_budgets`
    (one tiny aggregate; only n_strata rows reach the driver, the same
    contract as `mixture_sample`) feeds `materialize_epochs` (a pure
    per-row generate+filter over the scan). Note the budgets are planned on
    MASS but membership in the partial epoch is per-ROW — for docs of
    uneven length the realized mass share converges by law of large numbers
    within each stratum.

    Recipe strata with NO corpus rows (or zero mass) contribute zero
    output — the realized mix under-delivers those shares silently (see
    `epoch_budgets`); validate the budget table against the recipe if the
    corpus might be missing strata."""
    budgets = {r[0]: float(r["epochs"])
               for r in epoch_budgets(df, strata_col, target_shares,
                                      total_mass, weight_col,
                                      max_epochs).collect()}
    return materialize_epochs(df, id_col, strata_col, budgets,
                              salt=salt, hash_fn=hash_fn,
                              epoch_col=epoch_col)
