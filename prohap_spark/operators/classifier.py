"""Model-based quality filtering — the classifier stage of a curation
pipeline (the GPT-3 recipe: train a linear classifier on weak labels,
keep documents the model scores as high-quality). Built on Spark
MLlib's public API (HashingTF features + LogisticRegression), so
training and scoring are both distributed: feature hashing is a
map-side transform, L-BFGS aggregates gradients tree-wise, and the
scoring pass is one broadcast of the coefficient vector.

The 100 TB shape: the model is a single dense vector of
``num_features`` coefficients (2^14 doubles here — KBs), broadcast for
scoring; no stage materializes anything corpus-sized beyond the
feature rows themselves. Weak labels come from the repo's own JVM-side
heuristic quality score (top/bottom quantile cut), so no external
labeled data is required — exactly how production quality filters
bootstrap (label a slice with heuristics or a reference corpus, train,
then score everything).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from prohap_spark.functions.hashing import md5_bucket


def quality_classifier_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_features: int = 1 << 14,
    label_quantile: float = 0.25,
    train_pct: int = 80,
) -> DataFrame:
    """Train a logistic-regression quality classifier on weak labels
    and score EVERY document. Returns (id_col, weak_label, is_train,
    p_good, pred_good) where weak_label is 1/0 for the top/bottom
    ``label_quantile`` of the heuristic quality score (NULL for the
    unlabeled middle), is_train marks the md5-deterministic
    ``train_pct``% training slice of the labeled set, p_good is the
    model probability, and pred_good the 0.5-threshold decision.
    Held-out quality is pinned in tests (AUC on the labeled rows NOT
    in the training slice)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, Tokenizer

    from prohap_spark.functions.text import quality_score_expr
    from prohap_spark.functions.text import words_array_expr

    # r14: token split materialized once for the quality battery (see
    # functions/text._ws_or — the array HOFs are CodegenFallback)
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("text"),
        words_array_expr(text_col).alias("__ws"),
    ).select(
        F.col(id_col),
        F.col("text"),
        quality_score_expr("text", words=F.col("__ws")).alias("__q"),
        (md5_bucket(F.col(id_col), 100) < train_pct).alias("is_train"),
    )
    quantiles = base.approxQuantile("__q", [label_quantile, 1.0 - label_quantile], 0.001)
    if len(quantiles) < 2:  # approxQuantile returns [] when every __q is NULL
        raise ValueError(
            "quality_classifier_scores: no non-null quality scores to label "
            "(empty corpus or all-null text)"
        )
    lo, hi = quantiles
    if lo == hi:
        raise ValueError(
            "quality_classifier_scores: degenerate quality distribution "
            f"(both label quantiles = {lo!r}); weak top/bottom-quantile labels "
            "would collapse into one class — widen label_quantile or fix the "
            "quality signal"
        )
    labeled = base.withColumn(
        "weak_label",
        F.when(F.col("__q") >= hi, F.lit(1.0))
        .when(F.col("__q") <= lo, F.lit(0.0)),
    )

    tok = Tokenizer(inputCol="text", outputCol="__words")
    tf = HashingTF(inputCol="__words", outputCol="__features", numFeatures=num_features)
    featured = tf.transform(tok.transform(labeled))

    # L-BFGS re-reads its input every iteration; persist ONLY the
    # (features, label) projection of the labeled train slice — at
    # corpus scale that is the hashed sparse vectors (~bounded by
    # num_features per row), never the document text
    train = featured.where(
        F.col("weak_label").isNotNull() & F.col("is_train")
    ).select("__features", "weak_label").persist()
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol="weak_label",
        maxIter=25,
        regParam=0.01,
        standardization=False,
    )
    try:
        model = lr.fit(train)
    finally:
        train.unpersist()

    from pyspark.ml.functions import vector_to_array

    scored = model.transform(featured)
    p_good = F.element_at(vector_to_array(F.col("probability")), 2)
    return scored.select(
        id_col,
        F.col("weak_label").cast("int").alias("weak_label"),
        "is_train",
        F.round(p_good, 6).alias("p_good"),
        (p_good >= 0.5).alias("pred_good"),
    )


# ---------------------------------------------------------------------------
# Integer fixed-point linear probe — the deterministic, engine-replayable
# trainer (r8). The L-BFGS model above is the production-quality filter;
# its float iterations are engine artifacts no SQL oracle can replay, which
# keeps text_quality_classifier rows-only by design. This trainer is the
# pagerank_micro integer device applied to model fitting: squared-loss
# gradient descent where EVERY operation is exact integer arithmetic
# both engines evaluate identically (mul, add, truncating div — Spark
# `div` == DuckDB `//` toward zero, verified on negatives), so the learned
# weights are bit-identical under any partitioning and replay as unrolled
# DuckDB CTEs. Squared loss instead of logistic is the point, not a
# shortcut: the logistic sigmoid is a transcendental — exactly the
# portability class this repo banished from value gates.
# ---------------------------------------------------------------------------


FEAT_SCALE = 1_000_000  # feature micro-units (exact for |x| < ~9e12)
PRED_SHIFT = 20  # weights live in units of 2^-PRED_SHIFT per micro-feature
W_BOUND = 1 << 40  # fail-loud divergence guard


def linear_probe_train_micro(
    df: "DataFrame",
    feature_cols: list[str],
    label_col: str,
    n_iter: int = 8,
    lr_shift: int = 6,
) -> list[int]:
    """Train integer weights w (one per feature column, units of
    2^-PRED_SHIFT per micro-unit feature) by full-batch gradient
    descent on squared loss over micro-unit targets (label*1e6).

    Per iteration: prediction p = (sum_j f_j*w_j) div 2^PRED_SHIFT
    (micro-units), per-row residual r = p - t, per-weight gradient
    G_j = sum_rows((r * f_j) div 2^PRED_SHIFT) — the per-row div keeps
    row terms ~2^22 so corpus sums stay far inside BIGINT and the sum
    is an exact commutative integer reduction (order/partitioning
    independent) — then w_j -= (G_j div n_rows) div 2^lr_shift.
    Returns the final weights; raises if any weight escapes W_BOUND
    (a diverging learning rate must fail loud, not wrap)."""
    n_rows = df.count()
    if n_rows == 0:
        raise ValueError("linear_probe_train_micro: empty training set")
    feats = [
        F.round(F.col(c).cast("double") * F.lit(float(FEAT_SCALE)), 0)
        .cast("long")
        .alias(f"__f{j}")
        for j, c in enumerate(feature_cols)
    ]
    t = F.round(F.col(label_col).cast("double") * F.lit(float(FEAT_SCALE)), 0).cast(
        "long"
    )
    base = df.select(*feats, t.alias("__t"))
    k = len(feature_cols)

    def trunc_div(a: int, b: int) -> int:
        """Truncation-toward-zero division — what Spark `div` and
        DuckDB `//` both do (python's // floors on negatives)."""
        q = abs(a) // b
        return q if a >= 0 else -q

    w = [0] * k
    for _ in range(n_iter):
        dot = sum(
            [F.col(f"__f{j}") * F.lit(int(wj)) for j, wj in enumerate(w)],
            F.lit(0).cast("long"),
        )
        proj = base.select(
            *[F.col(f"__f{j}") for j in range(k)],
            "__t",
            dot.alias("__dot"),
        ).withColumn("__r", F.expr(f"__dot div {1 << PRED_SHIFT}") - F.col("__t"))
        grads = proj.select(
            *[
                F.expr(f"(__r * __f{j}) div {1 << PRED_SHIFT}").alias(f"__g{j}")
                for j in range(k)
            ]
        )
        row = grads.agg(
            *[F.sum(f"__g{j}").alias(f"__G{j}") for j in range(k)]
        ).collect()[0]
        for j in range(k):
            gj = int(row[f"__G{j}"] or 0)
            w[j] -= trunc_div(trunc_div(gj, n_rows), 1 << lr_shift)
            if abs(w[j]) > W_BOUND:
                raise ValueError(
                    f"linear_probe_train_micro diverged: |w[{j}]| > {W_BOUND}; "
                    "lower lr_shift's implied rate or rescale features"
                )
    return w


def linear_probe_oracle_sql(
    table: str,
    feature_exprs: list[str],
    label_expr: str,
    n_iter: int = 8,
    lr_shift: int = 6,
    id_cols: list[str] | None = None,
    final_select: str | None = None,
) -> str:
    """Unrolled DuckDB replay of :func:`linear_probe_train_micro`
    (the pagerank/bpe-train device): weight state is ONE row of k
    columns per iteration CTE; every op mirrors the Spark trainer's
    integer arithmetic exactly, including truncating division via //
    (both engines truncate toward zero — verified on negatives).
    By default returns SQL selecting (j, w) — one row per learned
    weight. ``id_cols`` appends passthrough columns to the ``base``
    CTE (unused by training) and ``final_select`` replaces the
    weight-union tail with a caller SELECT that may reference ``base``
    (features f0..f{{k-1}}, target t, id cols) and the final weight
    row ``w{{n_iter}}`` (columns w0..w{{k-1}}) — the scoring hook the
    registered quality-probe query uses."""
    k = len(feature_exprs)
    ps = 1 << PRED_SHIFT
    fcols = ", ".join(
        f"CAST(round(CAST(({e}) AS DOUBLE) * {FEAT_SCALE}) AS BIGINT) AS f{j}"
        for j, e in enumerate(feature_exprs)
    )
    if id_cols:
        fcols = ", ".join(id_cols) + ", " + fcols
    parts = [
        f"base AS MATERIALIZED (\n      SELECT {fcols},\n"
        f"        CAST(round(CAST(({label_expr}) AS DOUBLE) * {FEAT_SCALE}) AS BIGINT) AS t\n"
        f"      FROM {table}\n    )",
        "nn AS (SELECT count(*) AS n FROM base)",
        "w0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(k))
        + ")",
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        dot = " + ".join(f"b.f{j} * w.w{j}" for j in range(k))
        parts.append(
            f"p{i} AS MATERIALIZED (\n"
            f"      SELECT b.*, (({dot}) // {ps}) - b.t AS r\n"
            f"      FROM base b CROSS JOIN w{p} w\n    )"
        )
        gsel = ", ".join(
            f"CAST(sum((r * f{j}) // {ps}) AS BIGINT) AS g{j}" for j in range(k)
        )
        parts.append(f"g{i} AS MATERIALIZED (\n      SELECT {gsel} FROM p{i}\n    )")
        wsel = ", ".join(
            f"w.w{j} - ((g.g{j} // nn.n) // {1 << lr_shift}) AS w{j}"
            for j in range(k)
        )
        parts.append(
            f"w{i} AS MATERIALIZED (\n"
            f"      SELECT {wsel} FROM w{p} w CROSS JOIN g{i} g CROSS JOIN nn\n    )"
        )
    if final_select is not None:
        return "WITH " + ",\n    ".join(parts) + f"\n    {final_select}"
    unions = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, w{j} AS w FROM w{n_iter}" for j in range(k)
    )
    return "WITH " + ",\n    ".join(parts) + f"\n    {unions}"


# ---------------------------------------------------------------------------
# The quality-probe feature surface shared by the registered
# text_quality_classifier query and its DuckDB oracle. Every feature is
# an exact integer count or a SINGLE correctly-rounded IEEE operation
# chain over exact integers (casts, one division, least) — the op trees
# below are written structurally identical on both sides, so the
# doubles are bit-identical BY IEEE SEMANTICS and the micro-unit
# quantization (round(x * 1e6), non-negative → HALF_UP == half-away)
# lands on the same BIGINT in both engines. The probe's target is the
# repo's heuristic quality score (functions/text.py
# quality_score_expr), whose cross-engine replay has been driver-green
# since r6 inside text_quality — training the probe to distill it is
# literally what "linear probe" means.
# ---------------------------------------------------------------------------

QUALITY_PROBE_N_ITER = 12
QUALITY_PROBE_LR_SHIFT = 2

# DuckDB: features over a pre-split subquery exposing ws / n_chars /
# n_punct (mirrors the text_quality oracle's CTE, green since r6)
QUALITY_PROBE_DUCK_TABLE = """(
      SELECT doc_id,
             string_split(lower(trim(text)), ' ') AS ws,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
      FROM documents
    )"""

_DUCK_STOP_HITS = (
    "len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is')))"
)
_DUCK_MWL = "CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws)"

QUALITY_PROBE_DUCK_FEATURES = [
    "1.0",  # f0: bias
    "least(CAST(len(ws) AS DOUBLE), 5000.0) / 5000.0",  # f1: clipped length
    # f2: clipped mean word length
    f"CASE WHEN len(ws) > 0 THEN least({_DUCK_MWL}, 20.0) / 20.0 ELSE 0.0 END",
    # f3: stopword ratio
    f"CASE WHEN len(ws) > 0 THEN CAST({_DUCK_STOP_HITS} AS DOUBLE) / len(ws) ELSE 0.0 END",
    # f4: punctuation density
    "CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END",
]

# the training target: quality_score_expr replayed term-for-term (the
# text_quality oracle's expression, addition order preserved —
# left-associative in both engines)
QUALITY_PROBE_DUCK_LABEL = f"""(
      (CASE WHEN len(ws) >= 10 AND len(ws) <= 5000 THEN 1.0 ELSE 0.0 END)
      + (CASE WHEN len(ws) > 0 AND ({_DUCK_MWL}) >= 2.0 AND ({_DUCK_MWL}) <= 12.0
              THEN 1.0 ELSE 0.0 END)
      + least((CASE WHEN len(ws) > 0 THEN CAST({_DUCK_STOP_HITS} AS DOUBLE) / len(ws)
                    ELSE 0.0 END) * 5.0, 1.0)
      + (1.0 - least((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
                           ELSE 0.0 END) * 5.0, 1.0))
    ) / 4.0"""


def quality_probe_feature_frame(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, f0..f4 doubles, __t double) over a documents frame — the
    Spark twin of QUALITY_PROBE_DUCK_TABLE + features + label, op tree
    matched term for term."""
    from prohap_spark.functions.text import DEFAULT_STOPWORDS

    ws = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    pre = df.select(
        F.col(id_col),
        ws.alias("__ws"),
        F.length("text").alias("__nc"),
        F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", "")).alias("__np"),
    )
    n = F.size(F.col("__ws"))
    hits = F.size(F.filter(F.col("__ws"), lambda w: w.isin(*DEFAULT_STOPWORDS)))
    total = F.aggregate(
        F.col("__ws"), F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mwl = total.cast("double") / n
    sw = F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))
    pr = (
        F.when(F.col("__nc") > 0, F.col("__np").cast("double") / F.col("__nc"))
        .otherwise(F.lit(0.0))
    )
    len_ok = F.when((n >= 10) & (n <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    mwl_ok = (
        F.when((n > 0) & (mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    t = (
        len_ok
        + mwl_ok
        + F.least(sw * 5.0, F.lit(1.0))
        + (F.lit(1.0) - F.least(pr * 5.0, F.lit(1.0)))
    ) / 4.0
    return pre.select(
        id_col,
        F.lit(1.0).alias("f0"),
        (F.least(n.cast("double"), F.lit(5000.0)) / 5000.0).alias("f1"),
        F.when(n > 0, F.least(mwl, F.lit(20.0)) / 20.0).otherwise(F.lit(0.0)).alias("f2"),
        sw.alias("f3"),
        pr.alias("f4"),
        t.alias("__t"),
    )


def quality_probe_score_cols(w: list[int]) -> tuple["Column", "Column"]:
    """(t_micro, score_micro) columns over a quality_probe_feature_frame
    given learned integer weights — quantization identical to the
    trainer's (round(f * FEAT_SCALE) per feature), score = dot div
    2^PRED_SHIFT, every op an exact integer."""
    from pyspark.sql import Column  # noqa: F401  (annotation only)

    def micro(c: str) -> "Column":
        return F.round(F.col(c).cast("double") * F.lit(float(FEAT_SCALE)), 0).cast(
            "long"
        )

    t_micro = micro("__t")
    dot = sum(
        [micro(f"f{j}") * F.lit(int(wj)) for j, wj in enumerate(w)],
        F.lit(0).cast("long"),
    )
    return t_micro, dot


def auc_exact(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact ROC-AUC via the Mann–Whitney rank-sum — the quality-gate
    metric a classifier-filtered corpus is accepted on — computed
    distributed with EXACT INTEGERS until one final division.

    Ties (mid-rank convention) stay integral by working in DOUBLED
    rank units: for a tie group of size c whose first rank is r,
    2·avg_rank = 2·r + c − 1. The per-group first rank is a running
    sum over DISTINCT scores, so the plan is one groupBy(score)
    shuffle (|distinct scores| rows — for fixed-point scores that is
    orders of magnitude below |rows|) plus a window over that tiny
    table; never a global sort of the corpus.

    Returns one row: (n_pos, n_neg, auc_num2, auc) with
    auc = auc_num2 / (2·n_pos·n_neg), auc_num2 =
    2·Σ ranks(positives) − n_pos·(n_pos+1) — an exact integer, so
    two runs (or two engines) can compare AUC without any float
    tolerance. Degenerate inputs (no positives or no negatives)
    return auc NULL rather than a fabricated 0/0."""
    from pyspark.sql import Window

    g = df.groupBy(F.col(score_col).alias("__s")).agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum(F.col(label_col).cast("long")).alias("__p"),
    )
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.withColumn(
        "__before", F.coalesce(F.sum("__c").over(w), F.lit(0))
    )
    per = ranked.select(
        F.col("__p"),
        F.col("__c"),
        # positives in this tie group each take 2·avg_rank =
        # 2·(before+1) + c − 1
        (F.col("__p") * (2 * (F.col("__before") + 1) + F.col("__c") - 1)).alias(
            "__pos2"
        ),
    )
    tot = per.agg(
        F.sum("__p").cast("long").alias("n_pos"),
        (F.sum("__c") - F.sum("__p")).cast("long").alias("n_neg"),
        F.sum("__pos2").cast("long").alias("__s2"),
    )
    num2 = F.col("__s2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return tot.select(
        "n_pos",
        "n_neg",
        num2.cast("long").alias("auc_num2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            num2.cast("double")
            / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
        ).alias("auc"),
    )
