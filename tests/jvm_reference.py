"""Pure Spark-expression references for the fused Arrow kernels.

Each product operator below runs as one ``mapInPandas`` pass. The
functions here are the JVM expression chains those kernels replaced,
kept verbatim so the equivalence pins can compare the product operator
against them row for row:

- featured_survivors / clean_filter_survivors:
  tests/test_text.py (``*_kernel_identical_edge_corpus``)
- minhash_signatures_from_arrays:
  tests/test_dedup.py::test_minhash_kernel_identical
- ivf_assign / kmeans_lloyd_step / ivf_assign_two_level:
  tests/test_similarity.py (``*_kernels_identical``)

tests/test_scale_layout.py pins the optimizer barrier (barrier_keep)
these chains rely on. Named without a ``test_`` prefix so pytest does
not collect it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.dedup import hash32
from build_datawarehouse_demo_spark.operators.similarity import _as_double, cosine


def barrier_keep(df: DataFrame, *out_cols: str) -> DataFrame:
    """Filter ``kept`` behind the optimizer barrier (the
    featured_survivors trick, factored): a nondeterministic column
    REFERENCED by the predicate inside a single non-splittable OR, so
    PushDownPredicates cannot substitute the battery's feature
    expressions below the projection (higher-order functions get no
    codegen CSE — an unpinned filter re-evaluates the token split once
    per rule reference). ``kept`` may be NULL (the classifier's
    no-verdict rows): NULL OR false is NULL, so those rows drop, same
    as the oracle's WHERE."""
    b = df.withColumn("__barrier", F.monotonically_increasing_id())
    return b.filter(
        (F.col("kept") | (F.col("__barrier") < F.lit(0)))
    ).select(*out_cols)


def featured_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int,
    min_quality: float,
) -> DataFrame:
    """Reference for plans.training_data._featured_survivors: clean ->
    langid -> quality (one codegen'd scan, optimizer barrier) -> filter
    -> exact dedup (min id per md5(cleaned))."""
    from build_datawarehouse_demo_spark.operators.text import (
        clean_normalize,
        lang_id,
        quality_score,
    )

    featured = quality_score(lang_id(clean_normalize(df, text_col), text_col), text_col)
    # Optimizer barrier: without it, PushDownPredicates substitutes the
    # filter below the feature projection, re-evaluating
    # split(trim(text)) ~20x per row (higher-order functions get no
    # codegen CSE) BELOW the rebalance exchange — the heaviest stage
    # runs once per reference at scan parallelism. The barrier must be
    # (a) REFERENCED by the predicate, or column pruning deletes it and
    # pushdown proceeds, and (b) inside a single non-splittable OR, or
    # the conjuncts push individually. `mono_id < 0` is always false,
    # so semantics are unchanged; the projection containing mono_id is
    # nondeterministic, so the filter stays above it and the features
    # compute ONCE. Nothing is lost at scale: the predicate needs the
    # computed features, so it could never prune the scan anyway.
    featured = featured.withColumn("__barrier", F.monotonically_increasing_id())
    keep = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("quality") >= min_quality)
        & (F.col("pred_lang") != "und")
    ) | (F.col("__barrier") < F.lit(0))
    kept = featured.filter(keep).drop("__barrier")
    # exact dedup INSIDE the pipeline: min-id-per-digest via a window
    # (one exchange on the 16-byte digest), keeping the survivor's
    # feature columns — the grouped exact_dedup form returns only
    # (digest, keep_id) and would need a join back.
    digest_w = Window.partitionBy(F.md5(F.col("cleaned")))
    return (
        kept.withColumn("__keep", F.min(id_col).over(digest_w))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__keep")
        .select(id_col, "cleaned", "pred_lang", "n_tokens", "quality")
    )


def clean_filter_survivors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    min_words: int = 50,
    min_stopword_hits: int = 2,
    max_top_gram_char_frac: tuple[float, float, float] = (0.20, 0.18, 0.16),
    clf_dim: int = 64,
    clf_weights: list[float] | None = None,
    clf_threshold: float = 0.5,
) -> DataFrame:
    """Reference for plans.training_data.clean_filter_survivors: C4
    line filters -> Gopher quality -> Gopher repetition -> linear
    classifier, each battery the individually-oracle-checked operator,
    each filter barrier-pinned (barrier_keep). The whole chain is
    NARROW — chained projections and filters over one scan, zero
    Exchange, zero join."""
    from build_datawarehouse_demo_spark.operators.text import (
        c4_line_filters,
        gopher_quality_rules,
        gopher_repetition_rules,
        quality_classifier_score,
    )

    c4 = barrier_keep(
        c4_line_filters(
            df,
            text_col,
            id_col,
            min_words_per_line=min_words_per_line,
            min_sentences=min_sentences,
        ),
        id_col,
        "cleaned",
    )
    gq = barrier_keep(
        gopher_quality_rules(
            c4,
            "cleaned",
            id_col,
            min_words=min_words,
            min_stopword_hits=min_stopword_hits,
            passthrough=("cleaned",),
        ),
        id_col,
        "cleaned",
    )
    gr = barrier_keep(
        gopher_repetition_rules(
            gq,
            "cleaned",
            id_col,
            max_top_gram_char_frac=max_top_gram_char_frac,
            passthrough=("cleaned",),
        ),
        id_col,
        "cleaned",
    )
    return barrier_keep(
        quality_classifier_score(
            gr,
            "cleaned",
            id_col,
            dim=clf_dim,
            weights=clf_weights,
            threshold=clf_threshold,
            passthrough=("cleaned",),
        ),
        id_col,
        "cleaned",
        "n_ws_tokens",
        "clf_score",
    )


def minhash_signatures_from_arrays(
    sh_arrays: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
) -> DataFrame:
    """Reference for operators.dedup.minhash_signatures_from_arrays:
    for each seed h, ``array_min(transform(shingles, hash32(seed=h)))``
    — a narrow projection, no explode, no groupBy."""

    def _mh(h: int):
        # closure FACTORY, never a default arg: pyspark binds every
        # lambda parameter — defaults included — to a higher-order
        # lambda variable, so `lambda s, h=h:` silently made h the
        # ELEMENT INDEX column and hash32's f-string seed stringified
        # it into "Column<'y_N'>:" — a literal carrying the session's
        # lambda-variable counter. Signatures still deduplicated
        # (distinct y_N per column ≈ distinct hash functions) and every
        # oracle stayed green because exact-Jaccard verify saturates
        # recall at fixture scale, but values broke the documented
        # md5(seed:shingle) contract and CHANGED PER PLAN BUILD — fatal
        # for the incremental pipeline, which joins a new batch's band
        # keys against band keys persisted by an earlier plan (caught
        # by test_training_data_incremental; same trap as the streaming
        # SimHash note, now also guarded by a hash32 seed-type assert).
        return lambda s: hash32(s, seed=h)

    sigs = sh_arrays.withColumns(
        {
            f"mh_{h}": F.array_min(F.transform(F.col(shingle_col), _mh(h)))
            for h in range(num_hashes)
        }
    )
    return sigs.select(id_col, *[f"mh_{h}" for h in range(num_hashes)])


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    top_n: int = 1,
) -> DataFrame:
    """Reference for operators.similarity.ivf_assign: broadcast
    cartesian join scored with cosine(); top_n=1 picks the winner with
    a map-side-combining ``max_by`` keyed (sim desc with NULL as -2,
    centroid_id asc), top_n>1 with a row_number window."""
    c = corpus.select(F.col(id_col), _as_double(vec_col).alias("__v"))
    cent = centroids.select(F.col(centroid_id_col), _as_double(vec_col).alias("__c"))
    scored = c.join(F.broadcast(cent)).withColumn("sim", cosine(F.col("__v"), F.col("__c")))
    if top_n == 1:
        ordk = F.struct(
            F.coalesce(F.col("sim"), F.lit(-2.0)).alias("s"),
            (-F.col(centroid_id_col)).alias("nc"),
        )
        return (
            scored.groupBy(id_col)
            .agg(
                F.max_by(
                    F.struct(
                        F.col(centroid_id_col).alias("__cid"), F.col("__v")
                    ),
                    ordk,
                ).alias("__b")
            )
            .select(
                id_col,
                F.col("__b.__cid").alias(centroid_id_col),
                F.col("__b.__v").alias("__v"),
            )
        )
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col(centroid_id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(id_col, centroid_id_col, F.col("__v").alias("__v"))
    )


def kmeans_lloyd_step(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    round_to: int | None = 6,
    as_dims: bool = False,
) -> DataFrame:
    """Reference for operators.similarity.kmeans_lloyd_step: assign
    with the reference ivf_assign, then posexplode -> (cluster, dim)
    avg -> rebuild."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, centroid_id_col)
    dims = assigned.select(
        centroid_id_col, F.posexplode(F.col("__v")).alias("dim", "x")
    )
    mean_col = F.avg("x")
    if round_to is not None:
        mean_col = F.round(mean_col, round_to)
    per_dim = dims.groupBy(centroid_id_col, "dim").agg(mean_col.alias("m"))
    if as_dims:
        return per_dim
    return (
        per_dim.groupBy(centroid_id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("m")))
            ).alias("__dm")
        )
        .select(
            centroid_id_col,
            F.transform(F.col("__dm"), lambda s: s.getField("m")).alias(vec_col),
        )
    )


def ivf_assign_two_level(
    corpus: DataFrame,
    centroids: DataFrame,
    super_centroids: DataFrame,
    centroid_groups: DataFrame,
    gprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reference for operators.similarity.ivf_assign_two_level: route
    to the ``gprobe`` best super-centroids with the reference
    ivf_assign, join the routed rows to those groups' member centroids,
    and keep the (sim desc, centroid_id asc) winner per id."""
    routed = ivf_assign(
        corpus,
        super_centroids,
        id_col=id_col,
        vec_col=vec_col,
        centroid_id_col="group_id",
        top_n=gprobe,
    )
    cmap = centroid_groups.select("centroid_id", "group_id")
    cvecs = centroids.select(F.col("centroid_id"), _as_double(vec_col).alias("__c"))
    scored = (
        routed.join(F.broadcast(cmap), "group_id")
        .join(F.broadcast(cvecs), "centroid_id")
        .withColumn("sim", cosine(F.col("__v"), F.col("__c")))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "centroid_id", "__v")
    )
