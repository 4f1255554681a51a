"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set,
compute the dot product JVM-side with zip_with/aggregate (no Python in
the loop), rank with a per-query window. At scale the corpus side
stays partitioned; the only shuffle is the final per-query top-k,
whose input is already cut to k rows per partition by the window's
partial top-k sort.

Scale path: LSH bucketing with deterministic random hyperplanes
(signs derived from md5(plane|dim), so results are reproducible across
engines and runs). Probing multiple buckets trades recall for cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _dot(a: Column, b: Column) -> Column:
    """Double-precision sequential dot product of two float arrays —
    JVM-side higher-order functions, deterministic summation order."""
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


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    score_decimals: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query row, the k corpus
    rows with the highest cosine similarity. Ties broken by corpus id.
    Returns (query_id, corpus_id, cosine, rank).
    """
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qvec")
    ).withColumn("__qnorm", _norm(F.col("__qvec")))
    from prohap_spark.operators.skew import spread_scan

    # r14 spread_scan (input skew, guide §2.5): a single-row-group
    # corpus scan would evaluate the whole per-pair dot/norm battery
    # on ONE core however wide the box; repartitioning to cluster
    # width is a no-op when the corpus already arrives with enough
    # splits (the production case). Measured on the bench brute-force
    # entry: 0.326 -> 0.257 s at sf0.1.
    c = spread_scan(
        corpus.select(
            F.col(corpus_id).alias("__cid"), F.col(vec_col).alias("__cvec")
        ),
        "__cid",
    ).withColumn("__cnorm", _norm(F.col("__cvec")))
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine", _dot(F.col("__qvec"), F.col("__cvec")) / (F.col("__qnorm") * F.col("__cnorm"))
    )
    if score_decimals is not None:
        scored = scored.withColumn("cosine", F.round(F.col("cosine"), score_decimals))
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def knn_classify(
    probes: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    score_decimals: int | None = 6,
) -> DataFrame:
    """KNN label transfer: each probe gets the majority label of its
    ``k`` exact cosine nearest corpus rows (rank ties to the smaller
    corpus id, vote ties to the smaller label). Returns
    (qid, pred_label, n_votes). The top-k stage is ``cosine_topk``
    (probe side broadcast); swapping it for an ANN index
    (``ivf_ann_topk`` etc.) leaves the vote unchanged — the vote is
    one broadcast label join + one groupBy on the probe id."""
    knn = cosine_topk(
        probes, corpus, id_col, id_col, vec_col, k=k, score_decimals=score_decimals
    ).toDF("qid", "cid", "cosine", "rank")
    labels = corpus.select(F.col(id_col).alias("cid"), F.col(label_col).alias("label"))
    votes = (
        knn.join(F.broadcast(labels), "cid")
        .groupBy("qid", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("n_votes").desc(), F.col("label").asc())
    # pred_label keeps the label column's native type (an int cast here
    # would silently NULL out string labels)
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("qid", F.col("label").alias("pred_label"), "n_votes")
    )


def hyperplane_sign_string(seed: str, plane: int, dim: int) -> str:
    """The ±1 hyperplane as a '1'/'0' string: component d is +1 iff the
    first hex digit of md5('seed|plane|d') >= '8'. Shared by the Spark
    bucket expression and the DuckDB oracle builders so both engines
    bucket with bit-identical hyperplanes."""
    import hashlib

    return "".join(
        "1"
        if hashlib.md5(f"{seed}|{plane}|{d}".encode()).hexdigest()[0] in "89abcdef"
        else "0"
        for d in range(dim)
    )


def _micro_component(x: Column) -> Column:
    """A float32 component as exact integer micro-units:
    round(x * 1e6) as BIGINT. The float→double cast is exact, the
    double product of a ≤24-bit mantissa by 1e6 (20 bits) is exact
    (≤44 < 53 bits), and Spark's HALF_UP matches DuckDB's
    half-away-from-zero on the resulting EXACT doubles — so the
    quantization is engine-identical by construction, with no series
    approximation anywhere (unlike the portable-ln device, this needs
    only IEEE mul + round)."""
    return F.round(x.cast("double") * F.lit(1000000.0), 0).cast("long")


def hyperplane_bucket_expr(
    vec_col: str | Column,
    n_planes: int = 8,
    seed: str = "hp",
    max_dim: int = 4096,
    quantize_micro: bool = False,
) -> Column:
    """Deterministic random-hyperplane LSH bucket: bit i = sign of the
    dot product with a ±1 hyperplane from ``hyperplane_sign_string``.

    The md5-derived signs depend only on (seed, plane, dim), so they
    are PRECOMPUTED at plan-build time into one '0'/'1' string literal
    per plane (round 2 recomputed the md5 per row × dim × plane). The
    per-row work is a single transform+aggregate over the vector with a
    constant-string lookup. Vectors longer than ``max_dim`` raise at
    plan time rather than bucketing silently wrong.

    Sign-test portability: by default the signed sum is a double
    rounded to 6 decimals before the sign test, so an oracle engine
    whose float summation differs in the last ulp lands in the same
    bucket — a residual (≈ulp-sized) risk remains when a sum sits
    exactly on a rounding boundary. ``quantize_micro=True`` removes
    the class entirely: components are quantized to exact integer
    micro-units (:func:`_micro_component`) and the signed sum is an
    exact BIGINT, identical in any engine under any summation order.
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col

    def plane_bit(p: int) -> Column:
        signs = hyperplane_sign_string(seed, p, max_dim)
        if quantize_micro:
            signed = F.transform(
                v,
                lambda x, i: F.when(
                    F.lit(signs).substr(i + 1, F.lit(1)) == "1",
                    _micro_component(x),
                ).otherwise(-_micro_component(x)),
            )
            s = F.aggregate(
                signed, F.lit(0).cast("long"), lambda acc, x: acc + x
            )
            return F.when(s >= 0, F.lit("1")).otherwise(F.lit("0"))
        signed = F.transform(
            v,
            lambda x, i: F.when(
                F.lit(signs).substr(i + 1, F.lit(1)) == "1", x.cast("double")
            ).otherwise(-x.cast("double")),
        )
        s = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
        return F.when(F.round(s, 6) >= 0, F.lit("1")).otherwise(F.lit("0"))

    guard = F.when(
        F.size(v) > max_dim,
        F.raise_error(F.lit(f"hyperplane_bucket_expr: vector dim exceeds max_dim={max_dim}")),
    )
    return F.coalesce(guard, F.concat(*[plane_bit(p) for p in range(n_planes)]))


def hyperplane_probe_buckets(
    vec_col: str | Column,
    n_planes: int = 8,
    seed: str = "hp",
    n_probes: int = 2,
    max_dim: int = 4096,
    quantize_micro: bool = False,
) -> Column:
    """Multi-probe LSH bucket array (Lv et al. 2007, public method):
    the base hyperplane bucket PLUS ``n_probes`` perturbed buckets,
    each flipping one of the query's lowest-|margin| sign bits — the
    planes the vector sits closest to, i.e. the bits most likely to
    differ for a true near neighbor. Probing those buckets buys the
    recall of extra tables without building (or storing) them: the
    corpus keeps ONE bucket per table; only the query side fans out.

    Determinism: probe order is (|margin|, plane index) ascending —
    margins are the same rounded/quantized sums the base bucket's sign
    test uses, so the perturbation sequence is engine-stable. Returns
    array<string> of 1 + n_probes bucket strings."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    assert n_probes < n_planes

    def plane_sum(p: int) -> Column:
        signs = hyperplane_sign_string(seed, p, max_dim)
        if quantize_micro:
            signed = F.transform(
                v,
                lambda x, i: F.when(
                    F.lit(signs).substr(i + 1, F.lit(1)) == "1",
                    _micro_component(x),
                ).otherwise(-_micro_component(x)),
            )
            return F.aggregate(signed, F.lit(0).cast("long"), lambda a, x: a + x)
        signed = F.transform(
            v,
            lambda x, i: F.when(
                F.lit(signs).substr(i + 1, F.lit(1)) == "1", x.cast("double")
            ).otherwise(-x.cast("double")),
        )
        return F.round(F.aggregate(signed, F.lit(0.0), lambda a, x: a + x), 6)

    sums = F.array(*[plane_sum(p) for p in range(n_planes)])
    base = F.aggregate(
        sums,
        F.lit(""),
        lambda acc, s: F.concat(acc, F.when(s >= 0, F.lit("1")).otherwise(F.lit("0"))),
    )
    # plane indices by ascending |margin| (ties on index), first n_probes
    order = F.slice(
        F.array_sort(
            F.transform(
                sums, lambda s, i: F.struct(F.abs(s).alias("m"), i.alias("i"))
            )
        ),
        1,
        n_probes,
    )
    guard = F.when(
        F.size(v) > max_dim,
        F.raise_error(
            F.lit(f"hyperplane_probe_buckets: vector dim exceeds max_dim={max_dim}")
        ),
    )
    # bind the base string once via the 1-element-transform device so
    # the n_planes plane sums aren't recomputed per probe
    combined = F.element_at(
        F.transform(
            F.array(base),
            lambda b: F.concat(
                F.array(b),
                F.transform(
                    order,
                    lambda e: F.concat(
                        F.substring(b, F.lit(1), e["i"]),
                        F.when(
                            F.substring(b, e["i"] + 1, F.lit(1)) == "1", F.lit("0")
                        ).otherwise(F.lit("1")),
                        F.substring(b, e["i"] + 2, F.lit(n_planes)),
                    ),
                ),
            ),
        ),
        1,
    )
    return F.coalesce(guard, combined)


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    n_planes: int = 8,
    n_tables: int = 8,
    score_decimals: int | None = None,
    quantize_micro: bool = False,
    n_probes: int = 0,
) -> DataFrame:
    """Approximate NN: bucket both sides with random hyperplanes and
    brute force only within shared buckets — an equi-join on the bucket
    key (the 100 TB path: no cross join, shuffle keyed on well-spread
    buckets).

    ``score_decimals`` rounds the cosine BEFORE the per-query ranking
    (ties then break on corpus id), which makes the whole candidate
    set + ranking deterministic and engine-replayable — the same
    device ``ivf_ann_topk`` uses. The default is ``None`` (raw
    full-precision scores, true-cosine tie-breaks): the registered
    sim_lsh_ann query opts into rounding explicitly, so other callers
    of this public operator are never silently coarsened (an r7
    default of 6 briefly did exactly that).

    ``quantize_micro=True`` additionally quantizes components to exact
    integer micro-units for BOTH the bucket sign test and the cosine:
    dot and squared norms become exact BIGINTs and the cosine is
    ``dot / (sqrt(nq2) * sqrt(nc2))`` — mul, div and sqrt are all
    correctly rounded IEEE ops, so the double is bit-identical across
    engines BY IEEE SEMANTICS, with no series approximation and no
    summation-order sensitivity. This is the engine-exact gate for
    oracle-replayed registrations; the ~1e-6 quantization error is
    irrelevant for ANN ranking.

    Multi-table LSH: ``n_tables`` independent hyperplane sets (distinct
    seeds); a pair is a candidate if it collides in ANY table. Collision
    probability per table is (1 - θ/π)^n_planes, so recall ≈
    1-(1-p)^L — one table is near-useless for moderate-similarity
    neighbors; L tables trade linear cost for exponential recall gain.
    Each row emits one (table, bucket) key per table (a posexplode, ×L
    rows into ONE shuffle — not L separate joins), candidates dedupe on
    (query, corpus) before scoring. Returns (query_id, corpus_id,
    cosine, rank)."""
    buckets = F.array(
        *[
            F.concat(
                F.lit(f"{t}:"),
                hyperplane_bucket_expr(
                    vec_col, n_planes, seed=f"hp{t}", quantize_micro=quantize_micro
                ),
            )
            for t in range(n_tables)
        ]
    )
    if n_probes > 0:
        # multi-probe (Lv et al. 2007): the QUERY side additionally
        # probes its n_probes lowest-|margin| bit flips per table —
        # the corpus keeps one bucket per table, so index size is
        # unchanged and only the (small) query fan-out grows. Strictly
        # additive: every base-bucket candidate is still probed, so
        # recall is monotonically >= the n_probes=0 run (pinned in
        # pytest).
        def _prefixed(t: int) -> Column:
            # NB: a two-parameter transform lambda means (element,
            # index) to pyspark — binding the table id via a default
            # arg would silently receive the index Column instead
            prefix = F.lit(f"{t}:")
            return F.transform(
                hyperplane_probe_buckets(
                    vec_col,
                    n_planes,
                    seed=f"hp{t}",
                    n_probes=n_probes,
                    quantize_micro=quantize_micro,
                ),
                lambda b: F.concat(prefix, b),
            )

        q_buckets = F.flatten(F.array(*[_prefixed(t) for t in range(n_tables)]))
    else:
        q_buckets = buckets
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(vec_col).alias("__qvec"),
        F.explode(q_buckets).alias("__bucket"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.col(vec_col).alias("__cvec"),
        F.explode(buckets).alias("__bucket"),
    )
    # candidate ids: collide in >=1 table → dedupe BEFORE the dot
    # product so each pair is scored once
    cand = c.select("__cid", "__bucket").join(
        F.broadcast(q.select("__qid", "__bucket")), "__bucket"
    ).select("__qid", "__cid").distinct()
    if quantize_micro:
        # exact-integer scoring: micro-quantized components make dot
        # and squared norms exact BIGINTs; the cosine double then uses
        # only correctly-rounded IEEE ops (cast, sqrt, mul, div) on
        # engine-identical integers — bit-identical by IEEE semantics
        def mvec(col: Column) -> Column:
            return F.transform(col, _micro_component)

        def isum(arr: Column) -> Column:
            return F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)

        qv = queries.select(
            F.col(query_id).alias("__qid"), mvec(F.col(vec_col)).alias("__qvec")
        ).withColumn("__qn2", isum(F.transform(F.col("__qvec"), lambda x: x * x)))
        cv = corpus.select(
            F.col(corpus_id).alias("__cid"), mvec(F.col(vec_col)).alias("__cvec")
        ).withColumn("__cn2", isum(F.transform(F.col("__cvec"), lambda x: x * x)))
        dot = isum(F.zip_with(F.col("__qvec"), F.col("__cvec"), lambda x, y: x * y))
        cos = dot.cast("double") / (
            F.sqrt(F.col("__qn2").cast("double"))
            * F.sqrt(F.col("__cn2").cast("double"))
        )
    else:
        qv = queries.select(
            F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qvec")
        ).withColumn("__qnorm", _norm(F.col("__qvec")))
        cv = corpus.select(
            F.col(corpus_id).alias("__cid"), F.col(vec_col).alias("__cvec")
        ).withColumn("__cnorm", _norm(F.col("__cvec")))
        cos = _dot(F.col("__qvec"), F.col("__cvec")) / (
            F.col("__qnorm") * F.col("__cnorm")
        )
    if score_decimals is not None:
        cos = F.round(cos, score_decimals)
    scored = cand.join(cv, "__cid").join(F.broadcast(qv), "__qid").withColumn(
        "cosine", cos
    )
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int = 4,
    n_tables: int = 12,
    score_decimals: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multi-table hyperplane-LSH
    candidate generation + exact-cosine verification at ``threshold``.

    The same bucket-GROUPING shape as the MinHash LSH dedup
    (operators/dedup.py): each row emits one (table, bucket) key per
    table into ONE shuffle, ids collect per bucket, and candidate pairs
    explode from each bucket's sorted id list — so the hyperplane
    projection runs exactly once per row and there is no self-join or
    cross join anywhere. Verification re-joins the raw vectors (a cheap
    projection of the input) and keeps pairs whose exact cosine, rounded
    to ``score_decimals``, is >= threshold. Returns distinct
    (id_a, id_b, cosine) with id_a < id_b.

    At real near-dup thresholds (>= 0.9) use more planes per table —
    collision probability per table is (1 - θ/π)^n_planes, so high
    thresholds keep recall with far fewer candidates. Recall is bounded
    by the tables: a true pair colliding in NO table is not produced
    (the price of the non-quadratic candidate stage at 100 TB).
    """
    buckets = F.array(
        *[
            F.concat(
                F.lit(f"{t}:"),
                hyperplane_bucket_expr(vec_col, n_planes, seed=f"hp{t}"),
            )
            for t in range(n_tables)
        ]
    )
    b = df.select(F.col(id_col), F.explode(buckets).alias("__bucket"))
    grouped = (
        b.groupBy("__bucket")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("__ids"))
        .where(F.size("__ids") > 1)
    )
    combos = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("__ids"), i + 2, F.greatest(F.size("__ids") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(combos).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    scored = (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("__va"), F.col("__vb"))
                / (_norm(F.col("__va")) * _norm(F.col("__vb"))),
                score_decimals,
            ),
        )
    )
    return scored.where(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def train_centroids_by_label(df: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Coarse-quantizer centroids for IVF: the per-label mean vector,
    computed relationally (posexplode → per-(cell, dim) avg → re-pack
    sorted by dim). In a production IVF the cell assignment comes from
    k-means — an iterative Spark job whose OUTPUT is exactly this small
    (cell_id, centroid) table — so the search path below is unchanged
    whichever trainer produced it. Returns (cell_id, centroid:
    array<double>)."""
    ex = df.select(
        F.col(label_col).alias("cell_id"), F.posexplode(vec_col).alias("d", "x")
    ).withColumn("x", F.col("x").cast("double"))
    per_dim = ex.groupBy("cell_id", "d").agg(F.avg("x").alias("cx"))
    return (
        per_dim.groupBy("cell_id")
        .agg(F.array_sort(F.collect_list(F.struct("d", "cx"))).alias("__s"))
        .select(
            "cell_id",
            F.transform(F.col("__s"), lambda s: s["cx"]).alias("centroid"),
        )
    )


def train_centroid_sums_by_label(
    df: DataFrame, label_col: str, vec_col: str, micro: float = 10000.0
) -> DataFrame:
    """ENGINE-EXACT twin of :func:`train_centroids_by_label`: instead
    of float per-dimension means (cross-row reassociated sums — the
    class behind the r11 sim_embedding_board driver red), each cell
    carries the exact BIGINT per-dimension SUM of micro-quantized
    components (round(x*micro), scale-0 round — engine-identical on
    identical doubles). The member count cancels out of cosine(x,
    sum/n), so downstream cosine assignment against ``svec`` needs no
    division and stays an exact-integer computation. micro=1e4 keeps
    sum-of-squared-sums under 2^53 through sf>=1 (see
    emb_centroid_cosine_exact). Returns (cell_id, svec:
    array<bigint>)."""
    ex = df.select(
        F.col(label_col).alias("cell_id"), F.posexplode(vec_col).alias("d", "x")
    ).withColumn(
        "xq", F.round(F.col("x").cast("double") * F.lit(micro), 0).cast("long")
    )
    per_dim = ex.groupBy("cell_id", "d").agg(F.sum("xq").alias("sd"))
    return (
        per_dim.groupBy("cell_id")
        .agg(F.array_sort(F.collect_list(F.struct("d", "sd"))).alias("__s"))
        .select(
            "cell_id",
            F.transform(F.col("__s"), lambda s: s["sd"]).alias("svec"),
        )
    )


def assign_nearest_cell_q(
    df: DataFrame,
    centroid_sums: DataFrame,
    id_col: str,
    vec_col: str,
    micro: float = 10000.0,
) -> DataFrame:
    """ENGINE-EXACT twin of :func:`assign_nearest_cell`: nearest-cell
    assignment where the vector-vs-centroid cosine is computed entirely
    from exact integers (micro-quantized components against
    ``train_centroid_sums_by_label`` sums — per-list sequential folds,
    no cross-row float aggregation, no rounding), so the argmax cell is
    bit-identical in any engine. Same plan shape as the float variant:
    broadcast crossJoin expanded in place, min_by partial-agg collapse,
    one narrow-row shuffle. Returns the input columns plus (cell_id,
    __vnorm)."""
    cent = F.broadcast(
        centroid_sums.withColumn(
            "__cssc",
            F.aggregate(
                F.transform("svec", lambda v: v * v),
                F.lit(0).cast("long"),
                lambda a, v: a + v,
            ),
        )
    )
    s = (
        df.withColumn("__vnorm", _norm(F.col(vec_col)))
        .withColumn(
            "__xq",
            F.transform(
                vec_col,
                lambda x: F.round(x.cast("double") * F.lit(micro), 0).cast("long"),
            ),
        )
        .withColumn(
            "__ssx",
            F.aggregate(
                F.transform("__xq", lambda q: q * q),
                F.lit(0).cast("long"),
                lambda a, v: a + v,
            ),
        )
    )
    scored = s.crossJoin(cent).withColumn(
        "__cellcos",
        F.aggregate(
            F.zip_with("__xq", "svec", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        ).cast("double")
        / (F.sqrt(F.col("__ssx").cast("double")) * F.sqrt(F.col("__cssc").cast("double"))),
    )
    carry = [c for c in df.columns if c != id_col] + ["__vnorm"]
    return scored.groupBy(id_col).agg(
        F.min_by(
            "cell_id", F.struct((-F.col("__cellcos")).alias("nc"), F.col("cell_id"))
        ).alias("cell_id"),
        *[F.first(c).alias(c) for c in carry],
    )


def train_centroids_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 8,
) -> DataFrame:
    """Distributed Lloyd's k-means: the REAL coarse-quantizer trainer
    whose output is the same small (cell_id, centroid) table
    ``train_centroids_by_label`` produces — plug it into
    ``ivf_ann_topk`` unchanged when no labels exist (the production
    case).

    Deterministic throughout: seeds are the ``k`` vectors with the
    smallest md5(id) (a TakeOrdered, never a global sort), and the
    L2 argmin breaks ties toward the lower cell id. Each iteration is
    (a) a MAP-SIDE assignment of every vector against the centroid
    list inlined as literals — k × d doubles, the sanctioned
    driver-scale artifact, exactly like text_bpe_train's per-round
    merge table — followed by (b) ONE shuffle: the
    per-cell mean via ``train_centroids_by_label`` (the assignment IS
    the label), k centroid rows collected to the driver. Empty cells keep their
    previous centroid. Total driver state is k·d floats; the corpus
    is never collected."""
    spark = df.sparkSession
    seeds = [
        [float(x) for x in r["__v"]]
        for r in df.select(
            F.col(vec_col).alias("__v"),
            F.md5(F.col(id_col).cast("string")).alias("__m"),
        )
        .orderBy("__m")
        .limit(k)
        .collect()
    ]
    if not seeds:
        raise ValueError("train_centroids_kmeans needs a non-empty corpus")
    cents = seeds

    def assign_expr(cents_: list[list[float]]):
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col).cast("array<double>"),
                        F.array(*[F.lit(x) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for c in cents_
            ]
        )
        # array_position returns the FIRST match: ties deterministically
        # go to the lower cell id
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    for _ in range(n_iter):
        # per-cell means ARE train_centroids_by_label with the
        # assignment as the label — reuse it rather than re-implement
        # the posexplode → per-(cell, dim) aggregate → re-pack recipe
        assigned = df.select(assign_expr(cents).alias("__cell"), F.col(vec_col))
        got = {
            r["cell_id"]: [float(x) for x in r["centroid"]]
            for r in train_centroids_by_label(assigned, "__cell", vec_col).collect()
        }
        cents = [got.get(j, cents[j]) for j in range(len(cents))]
    return spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        "cell_id int, centroid array<double>",
    )


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    nprobe: int = 3,
    score_decimals: int = 6,
    assign_decimals: int = 4,
    assigned_cells: DataFrame | None = None,
    centroid_sums: DataFrame | None = None,
    micro: float = 10000.0,
) -> DataFrame:
    """IVF (inverted-file) approximate NN: every corpus vector is
    assigned to its nearest centroid cell once; a query probes only its
    ``nprobe`` nearest cells and brute-forces within them.

    The 100 TB shape: the centroid table is tiny (k-means k ≪ corpus)
    and BROADCAST to both assignment passes — the assignment is a
    map-side argmax with no shuffle; the probe↔cell match is an
    equi-join on cell_id (corpus can be bucketed/partitioned BY cell_id
    on disk so the search never shuffles the corpus at all, the IVF
    analog of an inverted index). Assignment cosines are rounded to
    ``assign_decimals`` before ranking (centroid components are
    reassociated avg sums, so coarser rounding keeps the argmax stable
    across engines); final scores round to ``score_decimals`` as in
    ``cosine_topk``. Recall is bounded by nprobe: a true neighbor in an
    unprobed cell is missed. Returns (query_id, corpus_id, cosine,
    rank).

    ``centroid_sums``: the ENGINE-EXACT path (r12) —
    ``train_centroid_sums_by_label`` integer sums instead of float
    centroids; assignment/probe cosines become exact-integer per-list
    folds (bit-stable in any engine, no assign_decimals rounding
    needed). ``centroids`` may then be None."""
    if centroid_sums is not None:
        cent = F.broadcast(
            centroid_sums.select("cell_id", "svec").withColumn(
                "__cssc",
                F.aggregate(
                    F.transform("svec", lambda v: v * v),
                    F.lit(0).cast("long"),
                    lambda a, v: a + v,
                ),
            )
        )
    else:
        cent = F.broadcast(
            centroids.select(F.col("cell_id"), F.col("centroid")).withColumn(
                "__centnorm", _norm(F.col("centroid"))
            )
        )

    def nearest_cells(side: DataFrame, side_id: str, n: int) -> DataFrame:
        s = side.select(
            F.col(side_id).alias("__id"), F.col(vec_col).alias("__vec")
        ).withColumn("__norm", _norm(F.col("__vec")))
        if centroid_sums is not None:
            s = s.withColumn(
                "__xq",
                F.transform(
                    "__vec",
                    lambda x: F.round(x.cast("double") * F.lit(micro), 0).cast("long"),
                ),
            ).withColumn(
                "__ssx",
                F.aggregate(
                    F.transform("__xq", lambda q: q * q),
                    F.lit(0).cast("long"),
                    lambda a, v: a + v,
                ),
            )
            scored = s.crossJoin(cent).withColumn(
                "__cellcos",
                F.aggregate(
                    F.zip_with("__xq", "svec", lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda a, v: a + v,
                ).cast("double")
                / (
                    F.sqrt(F.col("__ssx").cast("double"))
                    * F.sqrt(F.col("__cssc").cast("double"))
                ),
            )
        else:
            scored = s.crossJoin(cent).withColumn(
                "__cellcos",
                F.round(
                    _dot(F.col("__vec"), F.col("centroid"))
                    / (F.col("__norm") * F.col("__centnorm")),
                    assign_decimals,
                ),
            )
        w = Window.partitionBy("__id").orderBy(
            F.col("__cellcos").desc(), F.col("cell_id").asc()
        )
        return (
            scored.withColumn("__crank", F.row_number().over(w))
            .where(F.col("__crank") <= n)
            .select("__id", "cell_id", "__vec", "__norm")
        )

    # corpus side: the shared n=1 argmax assignment (map-side partial
    # aggregation — one narrow shuffled row per corpus vector); the
    # window-based nearest_cells stays for the small probe side (n>1).
    # ``assigned_cells`` (the PERSISTED index from write_ivf_index)
    # skips the assignment pass entirely — the deployment path where
    # the corpus is indexed once and probed many times
    if assigned_cells is not None:
        assigned = assigned_cells.select(
            F.col(corpus_id).alias("__cid"),
            "cell_id",
            F.col(vec_col).alias("__cvec"),
            F.col("__vnorm").alias("__cnorm"),
        )
    elif centroid_sums is not None:
        assigned = assign_nearest_cell_q(
            corpus.select(
                F.col(corpus_id).alias("__cid"), F.col(vec_col).alias("__cvec")
            ),
            centroid_sums,
            "__cid",
            "__cvec",
            micro,
        ).select("__cid", "cell_id", "__cvec", F.col("__vnorm").alias("__cnorm"))
    else:
        assigned = assign_nearest_cell(
            corpus.select(
                F.col(corpus_id).alias("__cid"), F.col(vec_col).alias("__cvec")
            ),
            centroids,
            "__cid",
            "__cvec",
            assign_decimals,
        ).select("__cid", "cell_id", "__cvec", F.col("__vnorm").alias("__cnorm"))
    probes = nearest_cells(queries, query_id, nprobe).toDF(
        "__qid", "cell_id", "__qvec", "__qnorm"
    )
    # query batch ≪ corpus: broadcast the probe side so the per-cell
    # search is a map-side join against the (ideally cell-partitioned)
    # corpus
    scored = assigned.join(F.broadcast(probes), "cell_id").withColumn(
        "cosine",
        F.round(
            _dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
            score_decimals,
        ),
    )
    w2 = Window.partitionBy("__qid").orderBy(
        F.col("cosine").desc(), F.col("__cid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    corpus_id: str,
    vec_col: str,
    path: str,
    assign_decimals: int = 4,
    centroid_sums: DataFrame | None = None,
    micro: float = 10000.0,
) -> dict:
    """Persist the IVF search structure as a VALIDATED artifact —
    index once, probe many (the deployment shape: the corpus-sized
    assignment pass is the expensive part; probes are nprobe-cell
    equi-joins). Two parquet tables under ``path``, each with the
    manifest discipline of operators/dedup.py (torn/partial writes
    fail loud on read, never silently drop cells):

    - ``cells``: (corpus_id, cell_id, vec, __vnorm), PARTITIONED BY
      cell_id — a probe of nprobe cells prunes to nprobe directories
      on disk, the inverted-file layout the method is named for;
    - ``centroids``: (cell_id, centroid).

    Plus a meta.json pinning (corpus_id, vec_col, assign_decimals) so
    a reader can't probe with mismatched rounding.

    When ``centroid_sums`` is given (the ENGINE-EXACT r12 path), the
    persisted quantizer is the integer-sums table itself — an exact,
    bit-portable artifact (a float centroid table can drift by a ulp
    when regenerated; a BIGINT sums table cannot) — and cells are
    assigned via :func:`assign_nearest_cell_q`; meta records
    exact=true + micro so the prober replays identically.

    Returns the manifests."""
    import json
    import os

    from prohap_spark.operators.dedup import write_dedup_index

    if centroid_sums is not None:
        cells = assign_nearest_cell_q(
            corpus.select(F.col(corpus_id), F.col(vec_col)),
            centroid_sums,
            corpus_id,
            vec_col,
            micro,
        )
    else:
        cells = assign_nearest_cell(
            corpus.select(F.col(corpus_id), F.col(vec_col)),
            centroids,
            corpus_id,
            vec_col,
            assign_decimals,
        )
    m_cells = write_dedup_index(cells, f"{path}/cells", partition_by=["cell_id"])
    if centroid_sums is not None:
        m_cent = write_dedup_index(
            centroid_sums.select("cell_id", "svec"), f"{path}/centroids"
        )
    else:
        m_cent = write_dedup_index(
            centroids.select("cell_id", "centroid"), f"{path}/centroids"
        )
    meta = {
        "corpus_id": corpus_id,
        "vec_col": vec_col,
        "assign_decimals": assign_decimals,
        "exact": centroid_sums is not None,
        "micro": micro,
    }
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)
    return {"cells": m_cells, "centroids": m_cent, "meta": meta}


def read_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """Load a persisted IVF index, validating BOTH tables against
    their manifests (loud ValueError on any drift — a silently
    truncated cell table would just lower recall, the worst failure
    mode because nothing crashes). Returns (cells, centroids, meta).

    Segment-aware (r14): any ``.cells_seg_*`` segments written by
    :func:`append_ivf_segment` are unioned in (each loudly
    manifest-validated, deduped on (id, cell) so an idempotent
    re-ingest of identical rows is harmless). With zero segments this
    is exactly the r10 flat read."""
    import glob as _glob
    import json
    import os

    from prohap_spark.operators.dedup import read_dedup_index

    cells = read_dedup_index(spark, f"{path}/cells")
    centroids = read_dedup_index(spark, f"{path}/centroids")
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    segs = sorted(_glob.glob(os.path.join(path, ".cells_seg_*")))
    if segs:
        for s in segs:
            cells = cells.unionByName(read_dedup_index(spark, s))
        cells = cells.dropDuplicates([meta["corpus_id"], "cell_id"])
    return cells, centroids, meta


def append_ivf_segment(spark, path: str, delta: DataFrame) -> dict:
    """SEGMENTED incremental IVF ingest — the trgm-segment /
    sink-epoch pattern applied to the ANN index, completing the
    append-without-rebuild story for every persisted artifact: the
    delta is assigned against the FROZEN persisted quantizer (the
    integer centroid-sums table when ``meta.exact`` — bit-identical
    assignment in any engine — else the float centroids with the
    pinned rounding) and written as its OWN manifest-validated,
    cell_id-partitioned segment under ``path/.cells_seg_<k>``. Nothing
    existing is read or rewritten — ingest I/O and CPU are both
    O(|delta|), the only shape that survives continuous ingest at
    100 TB.

    Because the quantizer is frozen, a probe through the segmented
    read equals a from-scratch index built over base ∪ delta at the
    SAME quantizer, exactly (pinned in pytest). Centroid retraining
    under drift is a separate maintenance decision — retrain, then
    :func:`write_ivf_index` fresh. Updates to an EXISTING id are out
    of scope (append-only corpus contract, like the trgm segments);
    re-ingesting identical rows dedups cleanly at read time.

    Read amplification grows with segment COUNT, not corpus size;
    :func:`compact_ivf_segments` folds on a maintenance schedule.
    Returns the segment manifest + its path."""
    import glob as _glob
    import json
    import os

    from prohap_spark.operators.dedup import read_dedup_index

    if delta.isEmpty():
        # an ingest tick with nothing new is a no-op, not a failure —
        # and an empty partitioned parquet write would not round-trip
        return {"segment": None, "n_rows": 0}
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    corpus_id, vec_col = meta["corpus_id"], meta["vec_col"]
    quant = read_dedup_index(spark, f"{path}/centroids")
    d = delta.select(F.col(corpus_id), F.col(vec_col))
    if meta.get("exact"):
        assigned = assign_nearest_cell_q(
            d, quant, corpus_id, vec_col, float(meta.get("micro", 10000.0))
        )
    else:
        assigned = assign_nearest_cell(
            d, quant, corpus_id, vec_col, meta["assign_decimals"]
        )
    segs = _glob.glob(os.path.join(path, ".cells_seg_*"))
    k = (
        max(int(os.path.basename(s).rsplit("_", 1)[1]) for s in segs) + 1
        if segs
        else 0
    )
    seg_path = os.path.join(path, f".cells_seg_{k:05d}")
    manifest = _write_segment_atomic(
        assigned, seg_path, f".tmp_cells_seg_{k:05d}", ["cell_id"]
    )
    return {"segment": seg_path, **manifest}


def _write_segment_atomic(
    df: DataFrame, seg_path: str, tmp_name: str, partition_by=None
) -> dict:
    """Write a segment through a tmp dir + rename so a crashed or
    failed write never leaves a torn directory that MATCHES the
    segment glob (the read path would then fail loud on a manifest
    that was never written — correct but needless when the base index
    is intact). The tmp prefix is invisible to every ``*_seg_*`` glob;
    a stale tmp from a prior crash is swept before reuse."""
    import os
    import shutil

    from prohap_spark.operators.dedup import write_dedup_index

    tmp_path = os.path.join(os.path.dirname(seg_path), tmp_name)
    if os.path.isdir(tmp_path):
        shutil.rmtree(tmp_path)
    try:
        manifest = write_dedup_index(df, tmp_path, partition_by=partition_by)
    except BaseException:
        shutil.rmtree(tmp_path, ignore_errors=True)
        raise
    os.rename(tmp_path, seg_path)
    return manifest


def ivf_cell_stats(spark, path: str) -> DataFrame:
    """Observability for the frozen coarse quantizer — the RETRAIN
    SIGNAL the segmented-ingest design needs: per-cell posting counts
    split base vs segments, `(cell_id, n_base, n_delta)`. A healthy
    frozen quantizer assigns new data in roughly the base's cell
    proportions; drifting data piles deltas into a few cells (skewing
    the probe-time candidate scan) or lands in cells the base barely
    used. When the delta histogram diverges, retrain + rebuild
    (:func:`write_ivf_index` fresh) — the decision this table feeds.
    Reads id+cell columns only, never the vectors."""
    import glob as _glob
    import json
    import os

    from prohap_spark.operators.dedup import read_dedup_index

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    cid = meta["corpus_id"]
    base = (
        read_dedup_index(spark, f"{path}/cells")
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_base"))
    )
    segs = sorted(_glob.glob(os.path.join(path, ".cells_seg_*")))
    if not segs:
        return base.withColumn("n_delta", F.lit(0).cast("long")).select(
            "cell_id", "n_base", "n_delta"
        )
    delta = None
    for s in segs:
        d = read_dedup_index(spark, s).select(cid, "cell_id")
        delta = d if delta is None else delta.unionByName(d)
    delta = (
        delta.dropDuplicates([cid, "cell_id"])
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_delta"))
    )
    return (
        base.join(delta, "cell_id", "full_outer")
        .select(
            "cell_id",
            F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
        )
    )


def compact_ivf_segments(spark, path: str) -> dict:
    """Fold ``.cells_seg_*`` segments back into the flat cells table —
    the maintenance half of segmented IVF ingest, under the trgm
    compaction's reentrant always-readable swap (staging dir, backup
    rename, finally-restore; consumed segments removed only after the
    swap commits). No-op with zero segments. The quantizer table and
    meta are untouched — compaction moves bytes, never assignments."""
    import glob as _glob
    import os
    import shutil

    from prohap_spark.operators.dedup import write_dedup_index

    segs = sorted(_glob.glob(os.path.join(path, ".cells_seg_*")))
    if not segs:
        return {"segments_folded": 0}
    # no checkpoint needed: write_dedup_index fully materializes the
    # union into staging (and read-backs it) before any dir is touched
    cells, _cent, _meta = read_ivf_index(spark, path)
    cells_dir = os.path.join(path, "cells")
    staging = cells_dir + ".staging"
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    manifest = write_dedup_index(cells, staging, partition_by=["cell_id"])
    backup = cells_dir + ".old"
    if os.path.isdir(backup):
        shutil.rmtree(backup)
    os.rename(cells_dir, backup)
    try:
        os.rename(staging, cells_dir)
    except BaseException:
        os.rename(backup, cells_dir)
        raise
    shutil.rmtree(backup)
    for s in segs:
        shutil.rmtree(s)
    return {"segments_folded": len(segs), **manifest}


def ivf_ann_topk_from_index(
    queries: DataFrame,
    index_path_or_tables,
    query_id: str,
    k: int,
    nprobe: int = 3,
    score_decimals: int = 6,
) -> DataFrame:
    """Probe a persisted IVF index: identical results to
    ``ivf_ann_topk`` over the original corpus (pinned in pytest),
    without the corpus assignment pass. Accepts a path (validated
    load) or the (cells, centroids, meta) triple from
    :func:`read_ivf_index`."""
    if isinstance(index_path_or_tables, str):
        cells, centroids, meta = read_ivf_index(
            queries.sparkSession, index_path_or_tables
        )
    else:
        cells, centroids, meta = index_path_or_tables
    exact = bool(meta.get("exact"))
    return ivf_ann_topk(
        queries,
        corpus=None,
        centroids=None if exact else centroids,
        query_id=query_id,
        corpus_id=meta["corpus_id"],
        vec_col=meta["vec_col"],
        k=k,
        nprobe=nprobe,
        score_decimals=score_decimals,
        assign_decimals=meta["assign_decimals"],
        assigned_cells=cells,
        centroid_sums=centroids if exact else None,
        micro=float(meta.get("micro", 10000.0)),
    )


def write_lsh_index(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    path: str,
    n_planes: int = 4,
    n_tables: int = 12,
    quantize_micro: bool = True,
) -> dict:
    """Persist the hyperplane-LSH search structure as a VALIDATED
    artifact (r14 — the :func:`write_ivf_index` deployment shape
    applied to the LSH family, which previously re-bucketed the whole
    corpus on every query). Two parquet tables under ``path``, each
    with the manifest discipline of operators/dedup.py (torn/partial
    writes fail loud on read):

    - ``postings``: (bucket, corpus_id), PARTITIONED BY bucket — one
      row per (table, vector), bucket keys prefixed ``t:`` exactly as
      :func:`lsh_ann_topk` builds them. A probe collects its (tiny:
      n_queries x n_tables) bucket set driver-side and reads ONLY
      those partitions off disk — the inverted-file pruning the IVF
      index gets from cell_id dirs. Vectors are NOT duplicated here
      (postings are id+key only), so the n_tables-fold row blowup
      costs bytes-per-posting, not bytes-per-vector.
    - ``vectors``: (corpus_id, vec) — one row per vector, joined back
      for exact scoring of the deduped candidates.

    Plus a meta.json pinning (corpus_id, vec_col, n_planes, n_tables,
    quantize_micro) so a reader can't probe with mismatched planes.
    Seeds are the fixed ``hp{t}`` scheme shared with every LSH gate.
    Returns the manifests."""
    import json
    import os

    from prohap_spark.operators.dedup import write_dedup_index

    buckets = F.array(
        *[
            F.concat(
                F.lit(f"{t}:"),
                hyperplane_bucket_expr(
                    vec_col, n_planes, seed=f"hp{t}", quantize_micro=quantize_micro
                ),
            )
            for t in range(n_tables)
        ]
    )
    postings = corpus.select(
        F.col(corpus_id), F.explode(buckets).alias("bucket")
    ).select("bucket", corpus_id)
    m_post = write_dedup_index(postings, f"{path}/postings", partition_by=["bucket"])
    m_vec = write_dedup_index(
        corpus.select(F.col(corpus_id), F.col(vec_col)), f"{path}/vectors"
    )
    meta = {
        "corpus_id": corpus_id,
        "vec_col": vec_col,
        "n_planes": n_planes,
        "n_tables": n_tables,
        "quantize_micro": quantize_micro,
    }
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)
    return {"postings": m_post, "vectors": m_vec, "meta": meta}


def read_lsh_index(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """Load a persisted LSH index, validating both tables against
    their manifests (loud ValueError on drift — a silently truncated
    posting table would just lower recall). Returns
    (postings, vectors, meta).

    Segment-aware (r14): ``.postings_seg_*`` / ``.vectors_seg_*``
    segments written by :func:`append_lsh_segment` are unioned in
    (each manifest-validated, deduped so idempotent re-ingest is
    harmless). Zero segments = the flat read, unchanged."""
    import glob as _glob
    import json
    import os

    from prohap_spark.operators.dedup import read_dedup_index

    postings = read_dedup_index(spark, f"{path}/postings")
    vectors = read_dedup_index(spark, f"{path}/vectors")
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    psegs = sorted(_glob.glob(os.path.join(path, ".postings_seg_*")))
    vsegs = sorted(_glob.glob(os.path.join(path, ".vectors_seg_*")))
    if psegs:
        for s in psegs:
            postings = postings.unionByName(read_dedup_index(spark, s))
        postings = postings.dropDuplicates(["bucket", meta["corpus_id"]])
    if vsegs:
        for s in vsegs:
            vectors = vectors.unionByName(read_dedup_index(spark, s))
        vectors = vectors.dropDuplicates([meta["corpus_id"]])
    return postings, vectors, meta


def append_lsh_segment(spark, path: str, delta: DataFrame) -> dict:
    """SEGMENTED incremental LSH-index ingest — the
    :func:`append_ivf_segment` pattern for the LSH deployment shape.
    The delta's bucket keys derive from meta's frozen parameters
    (n_planes / n_tables / quantize_micro and the fixed ``hp{t}``
    seed scheme), so a segment append equals a from-scratch rebuild
    over base ∪ delta BY CONSTRUCTION — there is no trained quantizer
    to drift. Postings land bucket-partitioned (the probe's
    partition-pruning read stays pruned per segment), vectors land in
    their own segment; ingest I/O and CPU are O(|delta|). Append-only
    corpus contract; identical re-ingest dedups at read time.
    Returns both segment manifests."""
    import glob as _glob
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    corpus_id, vec_col = meta["corpus_id"], meta["vec_col"]
    buckets = F.array(
        *[
            F.concat(
                F.lit(f"{t}:"),
                hyperplane_bucket_expr(
                    vec_col,
                    meta["n_planes"],
                    seed=f"hp{t}",
                    quantize_micro=bool(meta["quantize_micro"]),
                ),
            )
            for t in range(meta["n_tables"])
        ]
    )
    if delta.isEmpty():
        # empty ingest tick: no-op (an empty partitioned write would
        # not round-trip, and half-written segment pairs must not
        # exist — see _write_segment_atomic)
        return {"segment": None, "postings": None, "vectors": None}
    segs = _glob.glob(os.path.join(path, ".postings_seg_*"))
    k = (
        max(int(os.path.basename(s).rsplit("_", 1)[1]) for s in segs) + 1
        if segs
        else 0
    )
    # vectors FIRST, postings second: the read path unions postings
    # segments to find candidates and joins them to vectors — a crash
    # between the two renames leaves a vectors segment with no
    # postings twin (extra vectors are never candidates, harmless and
    # swept by the next compact); the reverse order could surface
    # candidate ids with no vector row
    m_vec = _write_segment_atomic(
        delta.select(F.col(corpus_id), F.col(vec_col)),
        os.path.join(path, f".vectors_seg_{k:05d}"),
        f".tmp_vectors_seg_{k:05d}",
    )
    m_post = _write_segment_atomic(
        delta.select(F.col(corpus_id), F.explode(buckets).alias("bucket")).select(
            "bucket", corpus_id
        ),
        os.path.join(path, f".postings_seg_{k:05d}"),
        f".tmp_postings_seg_{k:05d}",
        partition_by=["bucket"],
    )
    return {"segment": k, "postings": m_post, "vectors": m_vec}


def compact_lsh_segments(spark, path: str) -> dict:
    """Fold LSH segments back into the flat postings/vectors tables —
    two reentrant always-readable swaps (postings first, then
    vectors), segment dirs removed only after both commit. A crash
    between the swaps or before the removals leaves segments whose
    rows are already in the folded tables; the read-time dedup makes
    them no-ops and the next compact sweeps them. No-op with zero
    segments; meta untouched."""
    import glob as _glob
    import os
    import shutil

    from prohap_spark.operators.dedup import write_dedup_index

    psegs = sorted(_glob.glob(os.path.join(path, ".postings_seg_*")))
    vsegs = sorted(_glob.glob(os.path.join(path, ".vectors_seg_*")))
    if not psegs and not vsegs:
        return {"segments_folded": 0}
    postings, vectors, _meta = read_lsh_index(spark, path)

    def _swap(df, name, partition_by=None):
        tdir = os.path.join(path, name)
        staging = tdir + ".staging"
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        manifest = write_dedup_index(df, staging, partition_by=partition_by)
        backup = tdir + ".old"
        if os.path.isdir(backup):
            shutil.rmtree(backup)
        os.rename(tdir, backup)
        try:
            os.rename(staging, tdir)
        except BaseException:
            os.rename(backup, tdir)
            raise
        shutil.rmtree(backup)
        return manifest

    m_post = _swap(postings, "postings", partition_by=["bucket"])
    m_vec = _swap(vectors, "vectors")
    for s in psegs + vsegs:
        shutil.rmtree(s)
    return {
        "segments_folded": len(psegs),
        "postings": m_post,
        "vectors": m_vec,
    }


def lsh_ann_topk_from_index(
    queries: DataFrame,
    index_path_or_tables,
    query_id: str,
    k: int,
    score_decimals: int | None = 6,
) -> DataFrame:
    """Probe a persisted LSH index: identical results to
    :func:`lsh_ann_topk` over the original corpus (pinned in pytest),
    without re-bucketing the corpus. The query side's bucket keys are
    collected driver-side (bounded: n_queries x n_tables strings) and
    pushed as a partition-pruning filter on the postings table, so
    the disk read touches only the probed buckets; candidates dedupe
    on (query, corpus) and score against the ``vectors`` table with
    the index's recorded arithmetic (exact integer micro path when
    meta.quantize_micro). Accepts a path (validated load) or the
    (postings, vectors, meta) triple from :func:`read_lsh_index`."""
    if isinstance(index_path_or_tables, str):
        postings, vectors, meta = read_lsh_index(
            queries.sparkSession, index_path_or_tables
        )
    else:
        postings, vectors, meta = index_path_or_tables
    corpus_id, vec_col = meta["corpus_id"], meta["vec_col"]
    qmicro = bool(meta["quantize_micro"])
    buckets = F.array(
        *[
            F.concat(
                F.lit(f"{t}:"),
                hyperplane_bucket_expr(
                    vec_col, meta["n_planes"], seed=f"hp{t}", quantize_micro=qmicro
                ),
            )
            for t in range(meta["n_tables"])
        ]
    )
    qb = queries.select(
        F.col(query_id).alias("__qid"), F.explode(buckets).alias("bucket")
    )
    probe_buckets = [r["bucket"] for r in qb.select("bucket").distinct().collect()]
    cand = (
        postings.where(F.col("bucket").isin(probe_buckets))
        .join(F.broadcast(qb), "bucket")
        .select("__qid", F.col(corpus_id).alias("__cid"))
        .distinct()
    )
    if qmicro:
        def mvec(col: Column) -> Column:
            return F.transform(col, _micro_component)

        def isum(arr: Column) -> Column:
            return F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)

        qv = queries.select(
            F.col(query_id).alias("__qid"), mvec(F.col(vec_col)).alias("__qvec")
        ).withColumn("__qn2", isum(F.transform(F.col("__qvec"), lambda x: x * x)))
        cv = vectors.select(
            F.col(corpus_id).alias("__cid"), mvec(F.col(vec_col)).alias("__cvec")
        ).withColumn("__cn2", isum(F.transform(F.col("__cvec"), lambda x: x * x)))
        cos = isum(
            F.zip_with(F.col("__qvec"), F.col("__cvec"), lambda x, y: x * y)
        ).cast("double") / (
            F.sqrt(F.col("__qn2").cast("double"))
            * F.sqrt(F.col("__cn2").cast("double"))
        )
    else:
        qv = queries.select(
            F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qvec")
        ).withColumn("__qnorm", _norm(F.col("__qvec")))
        cv = vectors.select(
            F.col(corpus_id).alias("__cid"), F.col(vec_col).alias("__cvec")
        ).withColumn("__cnorm", _norm(F.col("__cvec")))
        cos = _dot(F.col("__qvec"), F.col("__cvec")) / (
            F.col("__qnorm") * F.col("__cnorm")
        )
    if score_decimals is not None:
        cos = F.round(cos, score_decimals)
    scored = cand.join(cv, "__cid").join(F.broadcast(qv), "__qid").withColumn(
        "cosine", cos
    )
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def sq_quantize(df: DataFrame, vec_col: str, q_col: str = "__sq") -> DataFrame:
    """Symmetric int8 scalar quantization of a float-vector column:
    per-vector scale = max|v| / 127, q_i = round(v_i / scale). The
    100 TB memory/bandwidth lever — a 64-dim float32 embedding drops
    4× to 64 bytes, so a candidate scan touches a quarter of the I/O.
    Deterministic (round-half-up on exact doubles), so quantized
    results stay engine-portable."""
    scaled = df.withColumn(
        "__sq_scale",
        F.greatest(
            F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))),
            F.lit(1e-30),
        )
        / F.lit(127.0),
    )
    return scaled.withColumn(
        q_col,
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") / F.col("__sq_scale")).cast("int"),
        ),
    ).drop("__sq_scale")


def sq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    rerank_k: int = 20,
    score_decimals: int = 6,
) -> DataFrame:
    """Scalar-quantized two-stage ANN: (1) approximate cosine of the
    FLOAT query against the INT8-quantized corpus — the per-vector
    scale cancels out of the cosine, so no dequantization multiply —
    keep the top ``rerank_k`` per query (rounded score + id tiebreak:
    the rerank candidate set is itself deterministic); (2) exact
    full-precision rerank of those candidates to the final top ``k``.

    At scale: stage 1 scans the 4×-smaller quantized column (the only
    full-corpus pass), stage 2 fetches full vectors for
    rerank_k × queries rows only."""
    qz = sq_quantize(corpus, vec_col, "__cq")
    c = qz.select(
        F.col(corpus_id).alias("__cid"),
        F.col(vec_col).alias("__cvec"),
        F.col("__cq"),
    ).withColumn("__cqnorm", _norm(F.col("__cq")))
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qvec")
    ).withColumn("__qnorm", _norm(F.col("__qvec")))

    approx = c.crossJoin(F.broadcast(q)).withColumn(
        "__approx",
        F.round(
            _dot(F.col("__qvec"), F.col("__cq"))
            / (F.col("__qnorm") * F.col("__cqnorm")),
            score_decimals,
        ),
    )
    w1 = Window.partitionBy("__qid").orderBy(F.col("__approx").desc(), F.col("__cid").asc())
    cand = approx.withColumn("__arank", F.row_number().over(w1)).where(
        F.col("__arank") <= rerank_k
    )
    exact = cand.withColumn(
        "cosine",
        F.round(
            _dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * _norm(F.col("__cvec"))),
            score_decimals,
        ),
    )
    w2 = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def pq_train_codebook(
    df: DataFrame, label_col: str, vec_col: str, sub_dim: int
) -> DataFrame:
    """Product-quantization codebook, trained relationally: the vector
    splits into ``dim / sub_dim`` subspaces, and entry (s, code_id) is
    the per-``label`` mean of subspace s — the same label-as-trainer
    device as :func:`train_centroids_by_label` (a production k-means
    per subspace outputs exactly this small table, so the encode/search
    path is trainer-agnostic). Returns (s, code_id, subcentroid) with
    GLOBAL dimension indices preserved inside each subcentroid so dot
    products need no re-offsetting."""
    ex = df.select(
        F.col(label_col).alias("code_id"), F.posexplode(vec_col).alias("d", "x")
    ).withColumn("x", F.col("x").cast("double")).withColumn(
        "s", (F.col("d") / sub_dim).cast("int")
    )
    per_dim = ex.groupBy("code_id", "s", "d").agg(F.avg("x").alias("cx"))
    return (
        per_dim.groupBy("s", "code_id")
        .agg(F.array_sort(F.collect_list(F.struct("d", "cx"))).alias("__p"))
        .select(
            "s", "code_id",
            F.transform(F.col("__p"), lambda p: p["cx"]).alias("subcentroid"),
        )
    )


def _pq_subdots(side: DataFrame, id_col: str, vec_col: str, codebook, sub_dim: int):
    """Per (id, s, code_id): the dot product of the vector's subspace s
    against codebook entry (s, code_id) — computed by a per-dimension
    explode joined to the broadcast exploded codebook (no per-row
    Python, one map-side join + one partial-agg shuffle keyed by id)."""
    cb_ex = F.broadcast(
        codebook.select(
            "s", "code_id", F.posexplode("subcentroid").alias("dl", "c")
        ).select(
            "s", "code_id",
            (F.col("s") * sub_dim + F.col("dl")).alias("d"),
            "c",
        )
    )
    ex = side.select(
        F.col(id_col).alias("__id"), F.posexplode(vec_col).alias("d", "x")
    ).withColumn("x", F.col("x").cast("double"))
    return (
        ex.join(cb_ex, "d")
        .groupBy("__id", "s", "code_id")
        .agg(F.sum(F.col("x") * F.col("c")).alias("dot"))
    )


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: DataFrame,
    sub_dim: int,
    assign_decimals: int = 4,
) -> DataFrame:
    """Encode every vector as one code per subspace — the OFFLINE pass
    of PQ (store the codes column; at 64 dims / 4 subspaces the corpus
    representation drops from 256 bytes to 4 small ints per vector).
    Assignment minimizes L2 distance via the inner-product form
    argmax(<x_s, c> - ||c||²/2); the score is rounded to
    ``assign_decimals`` with a code_id tiebreak so the argmax is
    stable across engines. Returns (id, codes array<int> ordered by
    subspace)."""
    n2 = codebook.select(
        "s", "code_id",
        F.aggregate(
            "subcentroid", F.lit(0.0), lambda a, c: a + c * c
        ).alias("__n2"),
    )
    dots = _pq_subdots(df, id_col, vec_col, codebook, sub_dim)
    scored = dots.join(F.broadcast(n2), ["s", "code_id"]).withColumn(
        "__as", F.round(F.col("dot") - 0.5 * F.col("__n2"), assign_decimals)
    )
    w = Window.partitionBy("__id", "s").orderBy(
        F.col("__as").desc(), F.col("code_id").asc()
    )
    best = scored.withColumn("__r", F.row_number().over(w)).where(F.col("__r") == 1)
    return (
        best.groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("s", "code_id"))).alias("__c"))
        .select(
            F.col("__id").alias(id_col),
            F.transform(F.col("__c"), lambda c: c["code_id"]).alias("codes"),
        )
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebook: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    sub_dim: int,
    num_codes: int,
    rerank_k: int = 20,
    score_decimals: int = 6,
    rerank_vec_col: str | None = None,
) -> DataFrame:
    """PQ asymmetric-distance ANN: (1) each query precomputes a tiny
    lookup table LUT[s][code] = <q_s, codebook[s][code]> (m × k
    entries, stored as INTEGER micro-units so the candidate score
    Σ_s LUT[s][codes[s]] is an exact bigint sum — no float
    reassociation anywhere in the ranking); (2) the corpus scan reads
    ONLY the codes column (m small ints per vector — at 64 dims a 64×
    I/O cut vs raw float32) against the broadcast LUTs; (3) the top
    ``rerank_k`` candidates per query rerank with exact full-precision
    cosine. ``num_codes`` must equal the contiguous 0-based code_id
    range (positional LUT indexing); the LUT-packing stage enforces it
    at runtime and raises on a sparse or non-0-based codebook.
    Combine with IVF cell partitioning to make the code scan itself
    sub-linear. Returns (query_id, corpus_id, cosine, rank)."""
    codes = pq_encode(corpus, corpus_id, vec_col, codebook, sub_dim)

    qdots = _pq_subdots(queries, query_id, vec_col, codebook, sub_dim)
    lut_rows = qdots.withColumn(
        "lut_u", F.round(F.col("dot") * 1_000_000).cast("long")
    )
    return _pq_pack_scan_rerank(
        codes, lut_rows, queries, corpus, query_id, corpus_id, vec_col,
        k, num_codes, rerank_k, score_decimals, rerank_vec_col,
    )


def _pq_pack_scan_rerank(
    codes: DataFrame,
    lut_rows: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    num_codes: int,
    rerank_k: int,
    score_decimals: int,
    rerank_vec_col: str | None,
) -> DataFrame:
    """Shared tail of the PQ search path (float and engine-exact
    variants): pack per-(query, s, code_id) ``lut_u`` rows into
    positional LUT arrays, scan the codes column against the broadcast
    LUTs with an exact bigint fold, cut to ``rerank_k``, rerank with
    exact full-precision cosine."""
    # positional-LUT precondition enforced at runtime: each subspace
    # must carry EXACTLY the contiguous code_ids 0..num_codes-1 (sorted
    # structs → first/last element check covers contiguity given
    # distinct code_ids); a sparse or 1-based codebook would otherwise
    # silently read the wrong LUT entries
    codes_ok = (
        (F.size("__l") == num_codes)
        & (F.element_at("__l", 1)["code_id"] == 0)
        & (F.element_at("__l", num_codes)["code_id"] == num_codes - 1)
    )
    per_s = (
        lut_rows.groupBy("__id", "s")
        .agg(F.array_sort(F.collect_list(F.struct("code_id", "lut_u"))).alias("__l"))
        .select(
            "__id", "s",
            F.when(codes_ok, F.transform(F.col("__l"), lambda e: e["lut_u"]))
            .otherwise(
                F.raise_error(
                    F.lit(
                        "pq_adc_topk: codebook code_ids are not the "
                        f"contiguous range 0..{num_codes - 1}"
                    )
                )
            )
            .alias("row"),
        )
    )
    luts = (
        per_s.groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("s", "row"))).alias("__r"))
        .select(
            F.col("__id").alias("__qid"),
            F.transform(F.col("__r"), lambda r: r["row"]).alias("__lut"),
        )
    )

    scored = codes.crossJoin(F.broadcast(luts)).withColumn(
        "__adc_u",
        F.aggregate(
            F.sequence(F.lit(0), F.size("codes") - 1),
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.element_at(
                F.element_at("__lut", (s + 1).cast("int")),
                (F.element_at("codes", (s + 1).cast("int")) + 1).cast("int"),
            ),
        ),
    )
    w1 = Window.partitionBy("__qid").orderBy(
        F.col("__adc_u").desc(), F.col(corpus_id).asc()
    )
    cand = (
        scored.withColumn("__ar", F.row_number().over(w1))
        .where(F.col("__ar") <= rerank_k)
        .select("__qid", corpus_id)
    )
    # rerank: full vectors fetched for rerank_k × queries rows only;
    # ``rerank_vec_col`` lets the exact pass score different (e.g. raw
    # un-normalized) vectors than the ADC pass encoded
    rcol = rerank_vec_col or vec_col
    cv = corpus.select(
        F.col(corpus_id), F.col(rcol).alias("__cvec")
    ).withColumn("__cnorm", _norm(F.col("__cvec")))
    qv = queries.select(
        F.col(query_id).alias("__qid"), F.col(rcol).alias("__qvec")
    ).withColumn("__qnorm", _norm(F.col("__qvec")))
    exact = (
        cand.join(cv, corpus_id)
        .join(F.broadcast(qv), "__qid")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnorm") * F.col("__cnorm")),
                score_decimals,
            ),
        )
    )
    w2 = Window.partitionBy("__qid").orderBy(
        F.col("cosine").desc(), F.col(corpus_id).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id), F.col(corpus_id), "cosine", "rank"
        )
    )


# ---- ENGINE-EXACT PQ twins (r12) ------------------------------------
# The float PQ path above trains the codebook with cross-row float
# avg() and scores subspace dots with cross-row float sum() — both
# reassociation-ordered, the exact class behind the r11
# sim_embedding_board driver red. The _q twins below carry the
# codebook as exact BIGINT per-dimension SUMS of micro-quantized
# components (member count n rides along and cancels or divides out
# through correctly-rounded IEEE ops on identical integers), so the
# code assignment, the LUT, and the ADC ranking are bit-identical in
# any engine under any aggregation order. Overflow headroom at
# micro=1e6: subspace dotq <= 16·1e6·(n·1e6); the assign numerators
# stay in BIGINT through n≈500 per code (sf0.1); widen micro down or
# sums to DECIMAL(38,0) beyond that.


def pq_train_codebook_sums(
    df: DataFrame, label_col: str, vec_col: str, sub_dim: int,
    micro: float = 1000000.0,
) -> DataFrame:
    """Exact-integer PQ codebook: per (code_id, s, d) the BIGINT sum
    ``sd`` of round(x*micro) components plus the member count ``n``.
    Returns the exploded per-dimension form (code_id, s, d, sd, n) —
    small (labels × dims rows); callers broadcast."""
    n_per = df.groupBy(F.col(label_col).alias("code_id")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ex = df.select(
        F.col(label_col).alias("code_id"), F.posexplode(vec_col).alias("d", "x")
    ).withColumn(
        "xq", F.round(F.col("x").cast("double") * F.lit(micro), 0).cast("long")
    ).withColumn("s", (F.col("d") / sub_dim).cast("int"))
    per_dim = ex.groupBy("code_id", "s", "d").agg(F.sum("xq").alias("sd"))
    return per_dim.join(n_per, "code_id")


def _pq_subdots_q(
    side: DataFrame, id_col: str, vec_col: str, cb_sums: DataFrame, micro: float
) -> DataFrame:
    """Per (id, s, code_id): the EXACT BIGINT dot ``dotq`` of the
    micro-quantized vector subspace against the codebook's integer
    sums (broadcast per-dim join + integer partial-agg, the
    _pq_subdots shape with no float anywhere)."""
    cb_ex = F.broadcast(cb_sums.select("d", "s", "code_id", "sd", "n"))
    ex = side.select(
        F.col(id_col).alias("__id"), F.posexplode(vec_col).alias("d", "x")
    ).withColumn(
        "xq", F.round(F.col("x").cast("double") * F.lit(micro), 0).cast("long")
    )
    return (
        ex.join(cb_ex, "d")
        .groupBy("__id", "s", "code_id")
        .agg(F.sum(F.col("xq") * F.col("sd")).alias("dotq"), F.first("n").alias("n"))
    )


def pq_encode_q(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cb_sums: DataFrame,
    sub_dim: int,
    micro: float = 1000000.0,
) -> DataFrame:
    """Engine-exact :func:`pq_encode`: the L2 assignment key
    dot − ||c||²/2 evaluates as TWO divisions of exact integers —
    dotq/(n·micro²) − ss2/(2n²·micro²) — each correctly rounded on
    identical operands, so the per-subspace argmax (tie to the smaller
    code_id) is bit-identical across engines with no rounding step."""
    m2 = float(micro) * float(micro)
    ss = cb_sums.groupBy("s", "code_id").agg(
        F.sum(F.col("sd") * F.col("sd")).alias("ss2")
    )
    dots = _pq_subdots_q(df, id_col, vec_col, cb_sums, micro)
    scored = dots.join(F.broadcast(ss), ["s", "code_id"]).withColumn(
        "__as",
        F.col("dotq").cast("double") / (F.col("n") * F.lit(m2))
        - F.col("ss2").cast("double")
        / (F.col("n") * F.col("n") * F.lit(2.0) * F.lit(m2)),
    )
    w = Window.partitionBy("__id", "s").orderBy(
        F.col("__as").desc(), F.col("code_id").asc()
    )
    best = scored.withColumn("__r", F.row_number().over(w)).where(F.col("__r") == 1)
    return (
        best.groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("s", "code_id"))).alias("__c"))
        .select(
            F.col("__id").alias(id_col),
            F.transform(F.col("__c"), lambda c: c["code_id"]).alias("codes"),
        )
    )


def pq_adc_topk_q(
    queries: DataFrame,
    corpus: DataFrame,
    cb_sums: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    sub_dim: int,
    num_codes: int,
    rerank_k: int = 20,
    score_decimals: int = 6,
    rerank_vec_col: str | None = None,
    micro: float = 1000000.0,
) -> DataFrame:
    """Engine-exact :func:`pq_adc_topk`: integer codebook sums
    (``pq_train_codebook_sums``) drive an exact assignment
    (:func:`pq_encode_q`) and an integer LUT — lut_u =
    floor(dotq/(n·micro) + 0.5), the floor device: every op correctly
    rounded on identical integers — so the bigint ADC fold and the
    candidate cut are bit-stable in any engine. Same scan shape and
    the same exact full-precision rerank as the float variant."""
    codes = pq_encode_q(corpus, corpus_id, vec_col, cb_sums, sub_dim, micro)
    qdots = _pq_subdots_q(queries, query_id, vec_col, cb_sums, micro)
    lut_rows = qdots.withColumn(
        "lut_u",
        F.floor(
            F.col("dotq").cast("double") / (F.col("n") * F.lit(float(micro)))
            + F.lit(0.5)
        ).cast("long"),
    )
    return _pq_pack_scan_rerank(
        codes, lut_rows, queries, corpus, query_id, corpus_id, vec_col,
        k, num_codes, rerank_k, score_decimals, rerank_vec_col,
    )


def assign_nearest_cell(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    assign_decimals: int = 4,
) -> DataFrame:
    """Assign every vector to its single nearest centroid cell by
    cosine — the n=1 assignment pass shared with ``ivf_ann_topk``'s
    corpus side. The broadcast crossJoin expands each vector to k
    centroid rows IN PLACE (no exchange), and the argmax is a
    ``min_by`` over ``struct(-cos, cell_id)`` — equivalent to ordering
    by (cos DESC, cell_id ASC) — which partial aggregation collapses
    back to ONE narrow row per vector map-side, so the only shuffle
    carries ~|corpus| single rows (a window row_number here would
    instead shuffle all corpus×k expanded rows). Cosines round to
    ``assign_decimals`` before the argmax so the assignment is stable
    across engines. Returns the input columns plus (cell_id,
    __vnorm)."""
    cent = F.broadcast(
        centroids.select("cell_id", "centroid").withColumn(
            "__centnorm", _norm(F.col("centroid"))
        )
    )
    s = df.withColumn("__vnorm", _norm(F.col(vec_col)))
    scored = s.crossJoin(cent).withColumn(
        "__cellcos",
        F.round(
            _dot(F.col(vec_col), F.col("centroid"))
            / (F.col("__vnorm") * F.col("__centnorm")),
            assign_decimals,
        ),
    )
    carry = [c for c in s.columns if c != id_col]
    return scored.groupBy(id_col).agg(
        F.min_by(
            "cell_id", F.struct((-F.col("__cellcos")).alias("nc"), F.col("cell_id"))
        ).alias("cell_id"),
        *[F.first(c).alias(c) for c in carry],
    )


def semantic_dedup_flags(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    score_decimals: int = 6,
    max_cell_size: int | None = None,
    share_scan: bool = True,
    centroid_sums: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus by a
    coarse quantizer (nearest-centroid assignment — in production the
    centroids come from a k-means job), then within each cell flag a
    vector as a duplicate when some LOWER-id vector in the same cell
    has cosine ≥ ``threshold`` to it (the deterministic keep-the-
    smallest-id rule).

    The 100 TB shape: the pairwise comparison is confined to single
    cells — one equi-self-join on cell_id (corpus partitionable by
    cell on disk), quadratic only in the cell size the clustering
    chose, never in the corpus. Returns (id_col, cell_id, is_dup,
    best_cos) where best_cos is the max cosine to any lower-id
    same-cell vector (NULL when the cell holds no lower id).

    ``max_cell_size``: skip cells with more members than this in the
    pairwise pass — the same k² guard ``lsh_candidate_pairs`` applies
    per bucket. A clustering that lands 10⁶ vectors in one hot cell
    (near-constant embeddings, a degenerate quantizer) would emit
    5·10¹¹ pair rows from that cell's join partitions; over-cap cells
    instead pass through un-flagged (best_cos NULL, is_dup false —
    re-cluster them with more centroids, or raise the cap). Use
    ``semantic_cell_stats`` with the same parameters to see what a cap
    would skip — measured truncation, never silent. The size filter
    joins the cell-count table broadcast (at most one row per
    centroid), so no extra shuffle of the corpus.

    Plan note: the assignment subplan is referenced up to four times
    (both sides of the pair join, the final left join, and the
    cell-count guard), and Spark re-executes unshared subplans — each
    re-execution is one full corpus scan + broadcast-argmax pass.
    ``share_scan`` (default True) shares it via the lazy
    localCheckpoint device (the triangle-count fix generalized): the
    assignment runs ONCE and every consumer reads the materialized
    narrow (id, cell, vec, norm) table. Same caveats as every
    share_scan in this codebase — snapshot on first action,
    non-fault-tolerant local blocks; pass False on preemptible
    clusters (re-execution is then linear scans, never wide
    shuffles).

    ``centroid_sums``: when given (the ENGINE-EXACT gate path —
    ``train_centroid_sums_by_label`` output), the assignment uses
    :func:`assign_nearest_cell_q` (exact-integer cosines, bit-stable
    in any engine) instead of the float ``centroids`` argmax; the
    within-cell pairwise cosines stay per-list sequential folds, which
    are already engine-deterministic."""
    if centroid_sums is not None:
        a = assign_nearest_cell_q(df, centroid_sums, id_col, vec_col)
    else:
        a = assign_nearest_cell(df, centroids, id_col, vec_col)
    a = a.select(
        F.col(id_col).alias("__id"),
        "cell_id",
        F.col(vec_col).alias("__vec"),
        "__vnorm",
    )
    if share_scan:
        a = a.localCheckpoint(eager=False)
    pair_src = a
    if max_cell_size is not None:
        ok = (
            a.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("__csz"))
            .where(F.col("__csz") <= max_cell_size)
            .select("cell_id")
        )
        pair_src = a.join(F.broadcast(ok), "cell_id")
    pairs = (
        pair_src.alias("l")
        .join(pair_src.alias("r"), "cell_id")
        .where(F.col("l.__id") < F.col("r.__id"))
        .select(
            F.col("r.__id").alias("__id"),
            F.col("cell_id"),
            F.round(
                _dot(F.col("l.__vec"), F.col("r.__vec"))
                / (F.col("l.__vnorm") * F.col("r.__vnorm")),
                score_decimals,
            ).alias("__cos"),
        )
        .groupBy("__id", "cell_id")
        .agg(F.max("__cos").alias("best_cos"))
    )
    return (
        a.select("__id", "cell_id")
        .join(pairs, ["__id", "cell_id"], "left")
        .select(
            F.col("__id").alias(id_col),
            "cell_id",
            (F.coalesce(F.col("best_cos"), F.lit(-2.0)) >= threshold).alias("is_dup"),
            "best_cos",
        )
    )


def semantic_cell_stats(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    max_cell_size: int | None = None,
) -> DataFrame:
    """Observability for the SemDeDup cell distribution (the
    ``lsh_bucket_stats`` twin): one row per cell with its member count,
    the pair count its within-cell join would emit, and whether a
    ``max_cell_size`` cap would skip it. Cheap — stops at the
    assignment aggregate (one narrow row per vector), no pair join —
    so it can run before/alongside a capped dedup to make truncation
    measured rather than silent."""
    a = assign_nearest_cell(df, centroids, id_col, vec_col)
    out = (
        a.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("cell_size"))
        .withColumn(
            "n_pairs",
            (F.col("cell_size") * (F.col("cell_size") - 1) / 2).cast("long"),
        )
    )
    capped = (
        F.lit(False)
        if max_cell_size is None
        else F.col("cell_size") > max_cell_size
    )
    return out.withColumn("capped", capped)


# ------------------------------------------------- quantized k-means IVF
# The cross-engine-exact variant of the k-means -> IVF pipeline above:
# scalar-quantize vectors to integer micro-units once, then every
# trainer iteration and every search comparison is exact BIGINT
# arithmetic — deterministic on any partitioning and replayable by a
# DuckDB oracle (the portable-math discipline of queries/textdata.py's
# micro-nat scores applied to vector search). Metric is L2 on the
# quantized grid (FAISS's default); ties break to the lower cell/id.

_QUANT_SCALE = 1_000_000.0


def quantize_vec(col: "F.Column"):
    """array<float> -> array<bigint> micro-units via floor(x*1e6 + 0.5)
    — IEEE ops only, bit-identical in Spark and DuckDB."""
    return F.transform(
        col,
        lambda x: F.floor(
            x.cast("double") * F.lit(_QUANT_SCALE) + F.lit(0.5)
        ).cast("long"),
    )


def quantize_vec_sql(expr: str) -> str:
    """DuckDB twin of :func:`quantize_vec` (same IEEE expression)."""
    return (
        f"list_transform({expr}, x -> CAST(floor((CAST(x AS DOUBLE)"
        f" * CAST(1000000 AS DOUBLE)) + (CAST(1 AS DOUBLE) / CAST(2 AS DOUBLE)))"
        f" AS BIGINT))"
    )


def _l2q_dists(vec_col: str, cents: list[list[int]]):
    """Exact integer squared-L2 of a quantized array column against
    each inlined centroid (k x d bigint literals — bounded driver
    state, map-side evaluation, no join).

    ONE nested array literal + a transform, not k unrolled aggregate
    expressions: the unrolled form built a plan tree that Catalyst
    re-analyzed and re-codegen'd per Lloyd iteration (fresh literals
    each round), which dominated the trainer's wall on small data —
    ~5 s PER ITERATION on a 2000-row corpus. Same integers either
    way; the tree is now O(k·d) literal leaves under a single
    aggregate node instead of k copies of the whole chain."""
    cent_lit = F.lit([[int(x) for x in c] for c in cents]).cast(
        "array<array<bigint>>"
    )
    return F.transform(
        cent_lit,
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def _l2q_argmin_expr(dists: "F.Column"):
    """0-based index of the minimum with the lower-index tiebreak,
    computing the distance array ONCE (bound as a lambda value —
    array_position(d, array_min(d)) with d spelled twice would
    evaluate the whole k-distance computation twice per row)."""
    from prohap_spark.functions.hof import bind_once

    return (
        bind_once(dists, lambda d: F.array_position(d, F.array_min(d))) - 1
    ).cast("int")


def _l2q_argmin(vec_col: str, cents: list[list[int]]):
    return _l2q_argmin_expr(_l2q_dists(vec_col, cents))


def _l2q_argmin_col(vec_col: str, cents_col: "F.Column"):
    """Nearest-centroid index against a centroid COLUMN
    (array<array<bigint>>, e.g. from a one-row broadcast table)
    instead of inlined literals. Same integers; the point is codegen
    reuse — whole-stage codegen embeds literals as constants in the
    generated Java, so a Lloyd loop with fresh literals each round
    recompiles (~4.5 s/iteration measured on a 2000-row corpus, 50x
    the actual execution); with the centroids as DATA the generated
    source is identical across iterations and the compiled class is
    served from cache."""
    dists = F.transform(
        cents_col,
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return _l2q_argmin_expr(dists)


def train_centroids_kmeans_q(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    n_iter: int = 3,
) -> list[list[int]]:
    """Integer-exact Lloyd's k-means over micro-unit quantized vectors.
    Returns the k centroids as python int lists (cell_id = list index).

    Deterministic AND engine-portable: seeds are the k vectors with the
    smallest md5(id) (TakeOrdered), the argmin breaks ties to the lower
    cell id, and the centroid update is ``sum(x) div count`` — Spark's
    ``div`` and DuckDB's ``//`` both truncate toward zero, so a DuckDB
    replay of the same iterations lands on the same integers (pinned in
    tools/check.py via sim_kmeans_ivf). Per iteration: one map-side
    assignment against k x d inlined literals + ONE shuffle (per-
    (cell, dim) sum/count); driver state is k*d ints. Empty cells keep
    their previous centroid."""
    q = df.select(
        F.col(id_col).alias("__id"), quantize_vec(F.col(vec_col)).alias("__qv")
    )
    seeds = [
        [int(x) for x in r["__qv"]]
        for r in q.select("__qv", F.md5(F.col("__id").cast("string")).alias("__m"))
        .orderBy("__m")
        .limit(k)
        .collect()
    ]
    if not seeds:
        raise ValueError("train_centroids_kmeans_q needs a non-empty corpus")
    cents = seeds
    # the quantized working set is the loop invariant — materialize it
    # once (local checkpoint) instead of re-scanning + re-quantizing
    # the corpus every Lloyd round
    q = q.localCheckpoint()
    for _ in range(n_iter):
        # the argmin must land BEFORE the generate: with the argmin
        # and posexplode in one projection, CollapseProject inlines
        # the (single-referenced) cell expression into the exploded
        # output and the whole k-distance argmin re-runs once per
        # DIMENSION (64x per vector) — measured 3.8 s -> 0.7 s per
        # iteration on a 2000-row corpus. coalesce(c, c) makes the
        # alias multi-referenced, which CollapseProject won't inline.
        pre = q.select(_l2q_argmin("__qv", cents).alias("__cell"), "__qv")
        assigned = pre.select(
            F.coalesce(F.col("__cell"), F.col("__cell")).alias("__cell"),
            F.posexplode("__qv").alias("__d", "__x"),
        )
        # the div happens IN Spark SQL (truncation semantics), never in
        # python (// floors, which differs on negative sums)
        got: dict[int, dict[int, int]] = {}
        for r in (
            assigned.groupBy("__cell", "__d")
            .agg(F.expr("sum(__x) div count(1)").alias("__c"))
            .collect()
        ):
            got.setdefault(r["__cell"], {})[r["__d"]] = int(r["__c"])
        cents = [
            [got[j][d] for d in range(len(cents[j]))] if j in got else cents[j]
            for j in range(len(cents))
        ]
    return cents


def ivf_l2_topk_q(
    queries: DataFrame,
    corpus: DataFrame,
    cents: list[list[int]],
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    nprobe: int = 2,
) -> DataFrame:
    """IVF top-k in the quantized integer space: corpus rows are
    assigned once to their nearest centroid (map-side, k x d literal
    table, exact bigint L2), queries probe their ``nprobe`` nearest
    cells, and ranking inside the probed cells is by exact integer
    distance with (dist, id) tiebreak — every comparison engine-exact,
    so the approximate index is fully value-checkable. Returns
    (qid, cid, dist_sq, rank). The shuffle is one cell-keyed equi-join;
    hot cells are bounded by the k-means balance, and the final top-k
    is a per-query window over only the probed candidates."""
    from pyspark.sql import Window

    corp = corpus.select(
        F.col(corpus_id).alias("cid"), quantize_vec(F.col(vec_col)).alias("__qv")
    )
    assign = corp.select(
        "cid",
        "__qv",
        _l2q_argmin("__qv", cents).alias("cell_id"),
    )
    qs = queries.select(
        F.col(query_id).alias("qid"), quantize_vec(F.col(vec_col)).alias("__pv")
    )
    probes = (
        qs.select(
            "qid", "__pv", F.posexplode(_l2q_dists("__pv", cents)).alias("__p", "__dist")
        )
        .withColumn(
            "__rnk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("__dist"), F.col("__p"))
            ),
        )
        .where(F.col("__rnk") <= nprobe)
        # posexplode's pos is already 0-based (unlike array_position)
        .select("qid", "__pv", F.col("__p").cast("int").alias("cell_id"))
    )
    scored = probes.join(assign, "cell_id").select(
        "qid",
        "cid",
        F.aggregate(
            F.zip_with("__pv", "__qv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist_sq"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist_sq"), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "dist_sq", "rank")
    )


def kmeans_ivf_oracle_sql(
    k: int = 4,
    n_iter: int = 3,
    nprobe: int = 2,
    topk: int = 5,
    query_pred: str = "vec_id < 10",
    corpus_pred: str = "vec_id >= 10",
) -> str:
    """Unrolled DuckDB replay of train_centroids_kmeans_q +
    ivf_l2_topk_q over the ``embeddings`` table: seeds by md5 order,
    ``n_iter`` Lloyd rounds (argmin with (dist, cell) tiebreak,
    ``sum // count`` centroid update — truncation division matching
    Spark's ``div``), then the nprobe/topk search — all exact BIGINT,
    so the hash gate covers the entire iterative trainer AND the
    index search."""
    dist = (
        "CAST(list_sum(list_transform(range(1, len({v}) + 1),"
        " j -> ({v}[j] - {c}[j]) * ({v}[j] - {c}[j]))) AS BIGINT)"
    )
    parts = [
        f"corpus AS (SELECT vec_id AS cid, {quantize_vec_sql('embedding')} AS qv"
        f" FROM embeddings WHERE {corpus_pred})",
        f"qs AS (SELECT vec_id AS qid, {quantize_vec_sql('embedding')} AS pv"
        f" FROM embeddings WHERE {query_pred})",
        "cent0 AS (SELECT cell_id, cvec FROM ("
        "SELECT row_number() OVER (ORDER BY md5(CAST(cid AS VARCHAR))) - 1"
        " AS cell_id, qv AS cvec FROM corpus"
        f") WHERE cell_id < {k})",
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        d = dist.format(v="c.qv", c="n.cvec")
        parts.append(
            f"a{i} AS (SELECT cid, qv, cell_id FROM ("
            f"SELECT c.cid, c.qv, n.cell_id,"
            f" row_number() OVER (PARTITION BY c.cid ORDER BY {d}, n.cell_id)"
            f" AS rnk FROM corpus c CROSS JOIN cent{p} n) WHERE rnk = 1)"
        )
        parts.append(
            f"m{i} AS (SELECT cell_id, list(cc ORDER BY d) AS cvec FROM ("
            f"SELECT cell_id, d, CAST(sum(x) // count(*) AS BIGINT) AS cc FROM ("
            f"SELECT cell_id, unnest(qv) AS x, generate_subscripts(qv, 1) AS d"
            f" FROM a{i}) GROUP BY cell_id, d) GROUP BY cell_id)"
        )
        parts.append(
            f"cent{i} AS (SELECT p.cell_id, coalesce(m.cvec, p.cvec) AS cvec"
            f" FROM cent{p} p LEFT JOIN m{i} m USING (cell_id))"
        )
    d_assign = dist.format(v="c.qv", c="n.cvec")
    d_probe = dist.format(v="q.pv", c="n.cvec")
    d_score = dist.format(v="p.pv", c="a.qv")
    parts.append(
        f"assign AS (SELECT cid, qv, cell_id FROM ("
        f"SELECT c.cid, c.qv, n.cell_id,"
        f" row_number() OVER (PARTITION BY c.cid ORDER BY {d_assign}, n.cell_id)"
        f" AS rnk FROM corpus c CROSS JOIN cent{n_iter} n) WHERE rnk = 1)"
    )
    parts.append(
        f"probes AS (SELECT qid, pv, cell_id FROM ("
        f"SELECT q.qid, q.pv, n.cell_id,"
        f" row_number() OVER (PARTITION BY q.qid ORDER BY {d_probe}, n.cell_id)"
        f" AS rnk FROM qs q CROSS JOIN cent{n_iter} n) WHERE rnk <= {nprobe})"
    )
    parts.append(
        f"scored AS (SELECT p.qid, a.cid, {d_score} AS dist_sq"
        f" FROM probes p JOIN assign a USING (cell_id))"
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    SELECT qid, cid, dist_sq, rank FROM ("
        + "SELECT qid, cid, dist_sq,"
        + " row_number() OVER (PARTITION BY qid ORDER BY dist_sq, cid) AS rank"
        + f" FROM scored) WHERE rank <= {topk}"
    )
