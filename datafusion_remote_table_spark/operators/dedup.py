"""Deduplication operators as a reusable DataFrame API.

The fixed-parameter versions registered in plans/llm_data.py are the
driver-verified instances of these; this module exposes the same
algorithms with tunable parameters for pipeline use.

Scale posture (100TB):
- signature computation is per-row (no shuffle, whole-stage codegen);
- the only shuffles are band-bucket joins on uniform md5 keys;
- `max_bucket_size` is the skew valve: pathological buckets (e.g. the
  empty document) are dropped rather than exploding the pair count.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import content_fingerprint, ngram_shingles

# Frames persisted by the tunable operator APIs below (minhash_lsh_pairs,
# containment_pairs). They must stay persisted while the returned lazy
# DataFrame is consumed (each is referenced 2-3x inside one plan), so the
# functions cannot unpersist before returning; instead every persist is
# tracked here and `release_persisted()` reclaims the storage pool between
# queries (perfbench/workloads.py calls it alongside the plans-layer caches).
_PERSISTED: list = []


def _track(df: DataFrame) -> DataFrame:
    _PERSISTED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every frame persisted by this module's operator APIs.

    Returns the number of frames released. Safe to call at any time: a
    consumer that re-reads a released result simply recomputes."""
    n = 0
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
        n += 1
    return n


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-content hash."""
    fp = content_fingerprint(F.col(text_col)).alias("__fp")
    w = df.select(F.col(id_col), fp, F.col(text_col))
    keepers = w.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return df.join(keepers, on=id_col, how="left_semi")


def minhash_signature(shingles: Column, n_perms: int = 32) -> Column:
    """md5-keyed minhash: permutation p's hash of shingle s is
    md5('p|s'); the signature is the per-permutation lexicographic min.
    Deterministic, seedless, identical on any engine with md5."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(n_perms)),
        lambda p: F.array_min(
            F.transform(shingles, lambda s: F.md5(F.concat(p.cast("string"), F.lit("|"), s)))
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.8,
    max_bucket_size: int = 1000,
    with_containment: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via minhash + LSH banding + exact-jaccard
    verification. Returns (id_a, id_b, jaccard), plus a containment
    column (|A∩B| / min(|A|,|B|)) when `with_containment` is set."""
    rows = n_perms // bands
    sh = _track(
        df.select(
            F.col(id_col), ngram_shingles(F.col(text_col), shingle_n).alias("shingles")
        ).persist()
    )
    sig = sh.select(id_col, "shingles", minhash_signature(F.col("shingles"), n_perms).alias("sigs"))

    band_ids = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("b")
    banded = sig.select(F.col(id_col), F.col("sigs"), band_ids)
    key = F.md5(
        F.concat_ws(
            "|",
            F.col("b").cast("string"),
            *[F.element_at("sigs", F.col("b") * rows + i + 1) for i in range(rows)],
        )
    )
    banded = _track(banded.select(F.col(id_col), key.alias("band_key")).persist())

    # skew valve: drop pathological buckets instead of exploding pairs
    sized = banded.join(
        banded.groupBy("band_key").count().filter(F.col("count") <= max_bucket_size),
        "band_key",
    )
    a, b = sized.alias("a"), sized.alias("b")
    cand = (
        a.join(
            b,
            (F.col(f"a.band_key") == F.col(f"b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))
    cols = ["id_a", "id_b", (inter / union).alias("jaccard")]
    if with_containment:
        cols.append((inter / F.least(F.size("sh_a"), F.size("sh_b"))).alias("containment"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(*cols)
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b") -> DataFrame:
    """Exact connected components of an undirected pair graph, to fixpoint.

    Returns (node, component) where component is the min node id in the
    component. Pregel-style min-label propagation with pointer jumping
    (label-of-label) each round, so convergence is O(log n) rounds even on
    a long chain — the shape GraphFrames/GraphX CC uses. Each round is one
    join+agg plus one self-join on a graph that is orders of magnitude
    smaller than the corpus it came from.

    Per-round cost discipline (measured: 12s -> 2.5s per call at sf0.01):
    - edges built with ONE reference to `pairs` (explode, map-side) — a
      4-way union of a cached frame re-canonicalizes the InMemoryRelation
      per reference, which Spark 4.1 does best-effort and slowly;
    - shuffle partitions pinned to ceil(edges / 2M) for the loop (restored
      after) so the fixpoint iterations don't pay 32-task scheduling per
      stage on a contracted graph that is tiny relative to the corpus;
    - convergence detected by a monotone checksum (labels only ever
      decrease, so SUM(lbl) is strictly decreasing until the fixpoint) —
      one cheap agg on the cached labels instead of an old⋈new join.
    """
    spark = pairs.sparkSession
    a, b = F.col(a_col), F.col(b_col)
    n_pairs = pairs.count()
    npart = max(1, min(pairs.rdd.getNumPartitions(), (4 * n_pairs) // 2_000_000 + 1))
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(npart))
    try:
        edges = (
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(a.alias("src"), b.alias("dst")),
                        F.struct(b.alias("src"), a.alias("dst")),
                        F.struct(a.alias("src"), a.alias("dst")),
                        F.struct(b.alias("src"), b.alias("dst")),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .repartition(npart, "src")
            .persist()
        )
        labels = edges.groupBy("src").agg(F.min("dst").alias("lbl")).persist()
        checksum = F.sum(F.col("lbl").cast("decimal(38,0)"))
        prev = labels.agg(checksum).collect()[0][0]
        for _ in range(64):
            step = (
                edges.join(
                    labels.withColumnRenamed("src", "dst2").withColumnRenamed("lbl", "nlbl"),
                    edges.dst == F.col("dst2"),
                )
                .groupBy("src")
                .agg(F.min("nlbl").alias("lbl"))
            )
            s2 = step.select(F.col("src").alias("j_src"), F.col("lbl").alias("j_lbl"))
            new_labels = (
                step.join(s2, step.lbl == s2.j_src)
                .select("src", F.least("lbl", "j_lbl").alias("lbl"))
                .persist()
            )
            cur = new_labels.agg(checksum).collect()[0][0]
            labels.unpersist()
            labels = new_labels
            if cur == prev:
                break
            prev = cur
        else:  # pragma: no cover - needs a component of diameter > 2^64
            raise RuntimeError("connected_components did not converge")
        edges.unpersist()
        return labels.select(F.col("src").alias("node"), F.col("lbl").alias("component"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """Per-doc simhash over md5-derived token bit vectors (60-bit default,
    matching the verified plans/llm_data.py instance — the Manku-style
    wide signature whose 15-bit bands keep blocking buckets ~n/32768).
    Per-row only."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    vals = F.transform(
        words, lambda t: F.conv(F.substring(F.md5(t), 1, bits // 4), 16, 10).cast("bigint")
    )
    def vote_for(j: int):
        def merge(acc, v):
            return acc + (F.shiftright(v, bits - 1 - j).bitwiseAND(1) * 2 - 1)

        return F.aggregate(vals, F.lit(0).cast("bigint"), merge)

    sig = None
    for j in range(bits):
        term = F.when(vote_for(j) >= 0, F.lit(1 << (bits - 1 - j))).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return df.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    gram_n: int = 2,
    threshold: float = 0.4,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int = 1000,
    rare_df_max: int = 16,
) -> DataFrame:
    """Asymmetric containment scoring |A∩B| / min(|A|,|B|) over GRAM
    sets (`gram_n`-word, default bigrams) with TWO candidate
    generators: the minhash-LSH candidate graph (dup-biased) and a
    rare-gram inverted index with df-capped posting lists (the
    prefix-filtering trick — banded minhash structurally under-recalls
    partial-inclusion pairs of very different sizes). Returns
    (id_a, id_b, jaccard, containment, partial_only) for pairs with
    containment >= threshold; partial_only flags pairs below
    `jaccard_threshold` that a symmetric near-dup pass would have
    missed. Scale: the LSH leg keeps its bucket-size valve; the
    rare-gram leg joins posting lists bounded by `rare_df_max` rows per
    gram. Registered instance: dedup_containment."""
    lsh_cand = minhash_lsh_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        n_perms=n_perms,
        bands=bands,
        shingle_n=shingle_n,
        threshold=0.0,
        max_bucket_size=max_bucket_size,
    ).select("id_a", "id_b")
    grams = _track(
        df.select(
            F.col(id_col),
            ngram_shingles(F.coalesce(F.col(text_col), F.lit("")), gram_n).alias("s"),
        ).persist()
    )
    gexp = grams.select(F.col(id_col), F.explode("s").alias("g"))
    rare = gexp.groupBy("g").count().filter(F.col("count") <= rare_df_max).select("g")
    ga = gexp.join(rare, "g").select(F.col(id_col).alias("id_a"), F.col("g").alias("ga"))
    gb = gexp.select(F.col(id_col).alias("id_b"), F.col("g").alias("gb"))
    rcand = (
        ga.join(gb, (F.col("ga") == F.col("gb")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    cand = lsh_cand.union(rcand).distinct()
    sa = grams.select(F.col(id_col).alias("id_a"), F.col("s").alias("sa"))
    sb = grams.select(F.col(id_col).alias("id_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    jac = inter / (F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb")))
    cont = inter / F.least(F.size("sa"), F.size("sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jac, 6).alias("jaccard"),
            F.round(cont, 6).alias("containment"),
            # filter on the UNROUNDED score, matching _containment_scored_sql:
            # the registered query's WHERE applies before the output ROUND,
            # so boundary pairs (0.3999996 -> 0.4) must not survive here.
            cont.alias("__cont_raw"),
        )
        .filter(F.col("__cont_raw") >= threshold)
        .drop("__cont_raw")
        .withColumn("partial_only", (F.col("jaccard") < jaccard_threshold).cast("int"))
    )


def pagerank(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    iters: int = 4,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Damped PageRank over an undirected pair graph (tunable twin of the
    registered ``dedup_graph_pagerank`` instance).

    All arithmetic is fixed-point BIGINT (scores in ``scale`` units,
    floor division) so results are bit-identical regardless of
    partitioning. Each power round is lineage-truncated
    (localCheckpoint): the unrolled-CTE spelling re-executes every
    earlier round inside each later one (measured 16 -> 189 s at
    1x -> 16x in the document-scale sweep before the split). Returns
    (node, degree, score_fp, score).
    """
    a, b = F.col(a_col), F.col(b_col)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(a.alias("src"), b.alias("dst")),
                    F.struct(b.alias("src"), a.alias("dst")),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ew = edges.join(deg, "src").localCheckpoint(eager=True)
    r = deg.select(
        F.col("src").alias("node"), F.lit(scale).cast("long").alias("score")
    ).localCheckpoint(eager=True)
    base = (100 - damping_pct) * scale // 100
    for _ in range(iters):
        contrib = ew.join(r, ew.src == r.node).selectExpr("dst", "score DIV deg AS c")
        r = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .selectExpr(
                "dst AS node",
                f"CAST({base} + ({damping_pct} * s) DIV 100 AS BIGINT) AS score",
            )
            .localCheckpoint(eager=True)
        )
    degrees = deg.select(F.col("src").alias("node"), F.col("deg").cast("long").alias("degree"))
    return r.join(degrees, "node").select(
        "node",
        "degree",
        F.col("score").alias("score_fp"),
        F.round(F.col("score").cast("double") / F.lit(float(scale)), 6).alias("score"),
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 5,
    max_posting_size: int = 1000,
) -> DataFrame:
    """EXACT jaccard similarity join via AllPairs prefix filtering
    (tunable twin of the registered ``dedup_prefix_filter_join``;
    ``plans/llm_data.py`` keeps the fixed-parameter driver-verified
    instance).

    Every shingle set is ordered by ascending global document frequency;
    only the first ``|d| - ceil(t*|d|) + 1`` rarest shingles are indexed
    — any pair with jaccard >= t must collide on one of them, so unlike
    LSH this join has ZERO false negatives at the threshold (property-
    tested against brute force in tests/test_template_property.py),
    CONDITIONAL on ``max_posting_size``: the valve drops any posting
    larger than the cap, and a true pair whose only shared prefix
    tokens sit in a dropped posting is silently lost. The guarantee is
    unconditional iff no posting exceeds the cap (the registered
    ``dedup_prefix_filter_join`` surfaces this as n_dropped_postings;
    pass ``max_posting_size=None``-like large values to recover strict
    exactness on skewed corpora at the cost of the skew backstop).
    Returns (id_a, id_b, size_a, size_b, jaccard).
    """
    sh = _track(
        df.select(
            F.col(id_col), ngram_shingles(F.col(text_col), shingle_n).alias("shingles")
        ).persist()
    )
    texp = sh.select(
        F.col(id_col), F.size("shingles").alias("n"), F.explode("shingles").alias("w")
    )
    dfreq = texp.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.col("df"), F.col("w"))
    )
    # integer prefix length: n - ceil(t*n) + 1, spelled with exact
    # integer arithmetic for rational thresholds (t = num/den). num/den
    # must round DOWN (num/den <= t): if it rounded up (e.g. t=2/3 ->
    # 67/100), the indexed prefix would be too short and the length
    # filter too strict — false negatives. A looser prefix/length filter
    # only admits extra candidates; the final exact-jaccard filter
    # enforces the true threshold.
    num, den = math.floor(threshold * 100), 100
    plen = F.col("n") - F.floor((num * F.col("n") + den - 1) / F.lit(den)) + 1
    pfx = _track(
        texp.join(dfreq, "w")
        .withColumn("rk", rk)
        .filter(F.col("rk") <= plen)
        .select(id_col, "w", "n")
        .persist()
    )
    ok = pfx.groupBy("w").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") <= max_posting_size
    ).select("w")
    a, b = pfx.alias("a"), pfx.alias("b")
    cand = (
        a.join(ok, "w")
        .join(b, "w")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(
            F.least(F.col("a.n"), F.col("b.n")) * den
            >= F.greatest(F.col("a.n"), F.col("b.n")) * num
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sha"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    jac = inter.cast("double") / (F.size("sha") + F.size("shb") - inter)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size("sha").cast("bigint").alias("size_a"),
            F.size("shb").cast("bigint").alias("size_b"),
            jac.alias("__jac"),
        )
        .filter(F.col("__jac") >= threshold)
        .select(
            "id_a", "id_b", "size_a", "size_b",
            (F.floor(F.col("__jac") * 1e6 + 0.5) / 1e6).alias("jaccard"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_len: int = 8,
    window: int = 4,
    threshold: float = 0.8,
    shingle_n: int = 5,
    max_block_size: int = 1000,
) -> DataFrame:
    """Blocked sorted-neighborhood (merge/purge) candidate generation +
    exact jaccard verify (tunable twin of ``dedup_sorted_neighborhood``).

    Docs block on the first ``key_len`` chars of the collapsed text,
    sort lexicographically within each block, and every pair within
    ``window - 1`` ranks is verified. Returns candidates WITH their
    verdict (id_a, id_b, rank_gap, jaccard, matched) — candidate
    quality is the tuning signal. The in-block window partitions BY
    BLOCK (bounded, valved at ``max_block_size``), never globally.
    """
    from pyspark.sql import Window

    collapsed = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    keyed = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), collapsed.alias("t"),
        F.substring(collapsed, 1, key_len).alias("blk"),
    )
    ok = keyed.groupBy("blk").agg(F.count(F.lit(1)).alias("c")).filter(
        (F.col("c") >= 2) & (F.col("c") <= max_block_size)
    ).select("blk")
    ranked = _track(
        keyed.join(ok, "blk")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("blk").orderBy(F.col("t"), F.col(id_col))
            ),
        )
        .select(id_col, "blk", "rk")
        .persist()
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(b, "blk")
        .filter(
            (F.col("b.rk") > F.col("a.rk"))
            & (F.col("b.rk") <= F.col("a.rk") + (window - 1))
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
            (F.col("b.rk") - F.col("a.rk")).cast("bigint").alias("rank_gap"),
        )
    )
    sh = _track(
        df.select(
            F.col(id_col), ngram_shingles(F.col(text_col), shingle_n).alias("shingles")
        ).persist()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sha"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    jac = inter.cast("double") / (F.size("sha") + F.size("shb") - inter)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "rank_gap",
            (F.floor(jac * 1e6 + 0.5) / 1e6).alias("jaccard"),
            (jac >= threshold).cast("int").alias("matched"),
        )
    )
