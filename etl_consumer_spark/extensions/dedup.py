"""Deduplication operators for large-scale corpus curation.

Beyond the reference's surface (SURVEY §7 Phase 5): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard — the standard
training-data pipeline family, designed partition-parallel:

- all hashing uses ``md5`` (identical across Spark and the DuckDB oracle;
  no engine-specific hash functions in comparable outputs)
- algorithms follow the published formulations: MinHash resemblance
  (Broder, SEQUENCES 1997), LSH banding (Leskovec/Rajaraman/Ullman,
  "Mining of Massive Datasets" ch. 3), SimHash (Charikar, STOC 2002)
- the only shuffles are the explode→groupBy signature build and the
  bucket/shingle self-joins, both on high-cardinality keys
- hot shingles (present in a large fraction of documents) are droppable via
  ``max_doc_freq`` — at 100 TB a stop-shingle cap is what keeps the
  candidate join from quadratic blowup on boilerplate text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: one representative (min id) per distinct
    text, plus the duplicate count. Hash-groupBy — one shuffle on the hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array column (distinct, order-free).

    Guarded for docs shorter than n words: ``sequence(1, count)`` with
    count <= 0 is a DESCENDING sequence in Spark ([1, 0]), whose
    element_at(0) traps under ANSI mode — the gram branch only evaluates
    when count > 0."""
    words = F.split(F.trim(text), r"\s+")
    count = F.size(words) - (n - 1)
    idx = F.sequence(F.lit(1), count)
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(words, (i + j).cast("int")) for j in range(n)]),
    )
    return F.array_distinct(
        F.when(count > 0, gram).otherwise(F.array().cast("array<string>"))
    )


def exploded_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(id, shingle) pairs, optionally dropping shingles that appear in more
    than ``max_doc_freq`` documents (stop-shingle cap — the scale guard).

    The input is repartitioned before the explode: shingling multiplies both
    row count and per-row CPU (hashing downstream), so parallelism must be
    established *before* the expensive operator — a single-row-group parquet
    file would otherwise pin the whole explode+hash pipeline to one task."""
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        df.repartition(par, id_col)
        .select(F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("shingle"))
    )
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        sh = (
            sh.join(F.broadcast(freq.filter(F.col("_df") > max_doc_freq)), "shingle", "left_anti")
        )
    return sh


# Universal-hash family constants for MinHash: mh_j = min((A_j*h + B_j) mod P)
# over h = 60 bits of md5(shingle) reduced mod P. One md5 per shingle row
# regardless of signature width (the naive per-seed md5 costs k hashes/row).
MINHASH_P = 1_000_000_007
MINHASH_A = [769_406_093, 297_281_389, 613_599_841, 936_024_263,
             83_102_273, 521_470_367, 402_360_139, 158_700_989]
MINHASH_B = [329_170_049, 851_730_013, 104_938_207, 734_102_389,
             611_920_481, 271_828_183, 946_073_821, 39_916_801]


def shingle_hash(shingle: Column) -> Column:
    """60-bit integer hash of a shingle (md5 prefix), reduced mod MINHASH_P.
    Engine-portable: DuckDB computes the identical value via
    ``('0x' || substr(md5(s),1,15))::BIGINT % P``."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long") % MINHASH_P


def minhash_signatures(
    shingles: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    materialize: bool = True,
) -> DataFrame:
    """MinHash signature per document via a universal hash family over one
    base hash per shingle: ``mh_j = min((A_j*h + B_j) mod P)``.

    One groupBy with ``num_hashes`` aggregate expressions — a single
    shuffle and a single md5 per shingle regardless of signature width."""
    assert num_hashes <= len(MINHASH_A)
    h = shingle_hash(F.col("shingle"))
    with_h = shingles.withColumn("_h", h)
    aggs = [
        F.min((F.lit(MINHASH_A[j]) * F.col("_h") + F.lit(MINHASH_B[j])) % MINHASH_P).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    # materialized: one signature row per doc (bounded), and the
    # audit queries consume signatures 2-3x (both pair sides + banding) —
    # without this each consumer re-runs the shingle explode + md5 + the
    # groupBy from the raw corpus (r13: dedup_minhash_b_bit carried 261
    # plan operators / 84 Exchanges from exactly this duplication).
    # materialize=False opts out for SINGLE-consumer callers (VERDICT r13
    # #5): at corpus scale a forced signature materialization is pure
    # overhead when the table is walked exactly once.
    sigs = with_h.groupBy(id_col).agg(*aggs)
    return sigs.localCheckpoint(eager=True) if materialize else sigs


def lsh_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Band the signature: bucket id = md5 of the concatenated band slice.
    Documents sharing any (band, bucket) become near-dup candidates.

    ONE pass: all band buckets are computed in a single projection and
    exploded. The union-of-selects formulation this replaces re-executed
    the whole upstream shingle-explode + MinHash pipeline once PER BAND
    (Spark does not share non-cached subtrees across union branches) —
    8 bands cost 8x the signature build, at any scale. Row output is
    identical: (id, band, bucket)."""
    rows_per_band = num_hashes // bands

    def bucket_struct(b: int):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        return F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *cols)).alias("bucket"),
        )

    return signatures.select(
        F.col(id_col),
        F.explode(F.array(*[bucket_struct(b) for b in range(bands)])).alias("_bb"),
    ).select(
        F.col(id_col),
        F.col("_bb.band").alias("band"),
        F.col("_bb.bucket").alias("bucket"),
    )


def candidate_pairs(
    buckets: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct (a, b) candidate pairs (a < b) sharing any LSH bucket.
    Self-join on (band, bucket) — high-cardinality key, shuffle-friendly.

    ``max_bucket_size`` drops (band, bucket) groups larger than the cap
    before the self-join — the bucket-level twin of ``max_doc_freq``: a
    skewed bucket (boilerplate-heavy corpora collapse many near-identical
    docs into one bucket) is the same quadratic failure mode as a hot
    shingle, and at 100 TB a single million-doc bucket would emit 10^12
    pairs. Docs in an over-full bucket usually still pair through their
    other bands; an over-full bucket is also a signal the band is
    uninformative for those docs."""
    if max_bucket_size is not None:
        # Capped path: ONE pass — group each (band, bucket) to its id array,
        # drop over-full buckets, expand a<b pairs map-side (≤ cap² per
        # bucket, bounded). The join formulation below would recompute the
        # whole upstream MinHash pipeline once per join side (alias-renamed
        # projections defeat exchange reuse): measured 15 s → ~3 s at sf0.1.
        grouped = (
            buckets.groupBy("band", "bucket")
            .agg(F.collect_list(F.col(id_col)).alias("_ids"))
            .filter(F.size("_ids") <= max_bucket_size)
        )
        ids = F.array_sort("_ids")
        pair_structs = F.filter(
            F.flatten(
                F.transform(
                    ids,
                    lambda x: F.transform(ids, lambda y: F.struct(x.alias("a"), y.alias("b"))),
                )
            ),
            lambda p: p["a"] < p["b"],
        )
        return (
            grouped.select(F.explode(pair_structs).alias("_p"))
            .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
            .distinct()
            # pair set is cap-bounded and consumed by several audit stages
            # (estimate join, candidate-doc semi-join, exact-Jaccard join)
            .localCheckpoint(eager=True)
        )
    # Uncapped path: bucket self-join (an unbounded bucket must spread over
    # tasks, not sit in one array). Pre-partition the SHARED frame on the
    # join key so the expensive upstream (shingle explode + MinHash) is
    # computed behind one exchange that both sides reuse.
    par = buckets.sparkSession.sparkContext.defaultParallelism
    buckets = buckets.repartition(par, "band", "bucket")
    left = buckets.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("a"))
    right = buckets.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("b"))
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    threshold: float = 0.0,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (or for every pair
    sharing >= 1 shingle when ``pairs`` is None — n-gram Jaccard dedup).

    |A ∩ B| from the shingle join; |A ∪ B| = |A| + |B| − |A∩B|.

    With ``pairs`` given, the intersection is CANDIDATE-ANCHORED: expand
    each pair by its left doc's shingles, then equi-join on (right doc,
    shingle) — cost Σ_pairs |A|, linear in candidate-pair shingle mass.
    The alternative (full shingle self-join, then semi-join candidates)
    costs Σ_shingles df(s)², which is quadratic in the duplication
    factor: the 10x adversarial probe (every base doc a 10-clique) put
    the self-join form at 62x wall for 10x data; this form is linear."""
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("sz"))
    if pairs is not None:
        a_sh = shingles.select(F.col(id_col).alias("a"), "shingle")
        b_sh = shingles.select(F.col(id_col).alias("b"), "shingle")
        inter = (
            # defensive distinct: a duplicated (a, b) candidate row would
            # multiply n_common by its multiplicity; the distinct is a noop
            # shuffle-wise when callers already dedup (AQE collapses it)
            pairs.select("a", "b")
            .distinct()
            .join(a_sh, "a")
            .join(b_sh, ["b", "shingle"])
            .groupBy("a", "b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        a = shingles.select(F.col("shingle"), F.col(id_col).alias("a"))
        b = shingles.select(F.col("shingle"), F.col(id_col).alias("b"))
        inter = (
            a.join(b, "shingle")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("n_common"))
        )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 30,
) -> DataFrame:
    """Near-dup clustering: connected components over a candidate-pair edge
    list by iterative min-label propagation — each vertex repeatedly takes
    the minimum label among itself and its neighbors until fixpoint.
    Returns (id, component) where component = min vertex id in the
    component; isolated vertices are their own component.

    Scale shape: every iteration is one equi-join (edges ⋈ labels on the
    neighbor key) plus a groupBy-min — shuffle keys are vertex ids, nothing
    is collected to the driver, and lineage is truncated per iteration with
    ``localCheckpoint`` so plans don't grow with the iteration count.
    Converges in O(max component diameter) rounds (near-dup components are
    shallow in practice); production graphs with giant components would
    switch to the large-star/small-star formulation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) — identical
    per-round plan, fewer rounds."""
    u, v = "_cc_u", "_cc_v"
    fwd = pairs.select(F.col(a_col).alias(u), F.col(b_col).alias(v))
    rev = pairs.select(F.col(b_col).alias(u), F.col(a_col).alias(v))
    edges = fwd.unionByName(rev).distinct().cache()
    labels = vertices.select(F.col(id_col).alias(u), F.col(id_col).alias("component"))
    try:
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(
                    labels.select(F.col(u).alias(v), F.col("component").alias("_nl")), v
                )
                .groupBy(u)
                .agg(F.min("_nl").alias("_nmin"))
            )
            nmin = F.coalesce("_nmin", F.col("component"))
            # carry the convergence flag through the checkpoint: the probe
            # is then a scan of already-materialized blocks, not a re-join
            # of the old label frame
            new_labels = (
                labels.join(neighbor_min, u, "left")
                .select(
                    F.col(u),
                    F.least(F.col("component"), nmin).alias("component"),
                    (nmin < F.col("component")).alias("_changed"),
                )
                .localCheckpoint(eager=True)
            )
            changed = new_labels.filter("_changed").limit(1).count()
            labels = new_labels.drop("_changed")
            if changed == 0:
                break
        else:
            # falling out of the loop without converging would silently
            # return truncated (incorrect) labels — refuse instead; callers
            # with deep components should use connected_components_star
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                "(component diameter exceeds max_iter); use "
                "connected_components_star for high-diameter graphs"
            )
    finally:
        edges.unpersist()
    return labels.select(F.col(u).alias(id_col), "component")


def connected_components_star(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014): converges in O(log^2 n) rounds regardless of
    component diameter — the scale path for giant components (boilerplate-
    heavy corpora produce exactly those), where min-label propagation's
    O(diameter) rounds would be unbounded. Returns (id, component) with
    component = min vertex id, identical to :func:`connected_components`.

    Per round, both stars are one groupBy-min over the symmetrized edge
    list plus an equi-join — shuffle keys are vertex ids, nothing collects
    to the driver, and ``localCheckpoint`` truncates lineage per round:

    - large-star: every neighbor v > u re-points to m(u) = min(N(u) ∪ {u})
    - small-star: every neighbor v <= u (and u itself) re-points to the
      minimum of that closed lower neighborhood

    The edge list converges to a star forest whose centers are the
    component minima."""
    u, v, m = "_cc_u", "_cc_v", "_cc_m"

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(e.select(F.col(v).alias(u), F.col(u).alias(v)))

    edges = (
        pairs.select(F.col(a_col).alias(u), F.col(b_col).alias(v))
        .filter(F.col(u) != F.col(v))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        sym = _sym(edges)
        # large-star: m(u) over the FULL closed neighborhood
        mins_all = sym.groupBy(u).agg(F.min(F.least(F.col(v), F.col(u))).alias(m))
        large = (
            sym.filter(F.col(v) > F.col(u))
            .join(mins_all, u)
            .select(F.col(v).alias(u), F.col(m).alias(v))
            .filter(F.col(u) != F.col(v))
            .distinct()
        )
        # small-star over large-star's output: closed lower neighborhood
        sym2 = _sym(large)
        low = sym2.filter(F.col(v) < F.col(u))
        mins_low = low.groupBy(u).agg(F.min(v).alias(m))
        small = (
            low.join(mins_low, u)
            .select(F.col(v).alias(u), F.col(m).alias(v))
            .unionByName(mins_low.select(F.col(u), F.col(m).alias(v)))
            .filter(F.col(u) != F.col(v))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # fixpoint: the star forest reproduces itself (both directions empty
        # exceptAll — checked with limit(1) so the probe short-circuits)
        stable = (
            small.exceptAll(edges).limit(1).count() == 0
            and edges.exceptAll(small).limit(1).count() == 0
        )
        edges = small
        if stable:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # star forest: (node -> component min); roots and isolated vertices label
    # themselves
    return (
        vertices.select(F.col(id_col))
        .join(edges.select(F.col(u).alias(id_col), F.col(v).alias("component")), id_col, "left")
        .select(F.col(id_col), F.coalesce("component", F.col(id_col)).alias("component"))
    )


def jaccard_pairs_grouped(
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.0,
    max_doc_freq: int = 16,
) -> DataFrame:
    """Doc-frequency-capped n-gram Jaccard in ONE pass over the shingles:
    group by shingle → (distinct) doc-id array, drop arrays longer than
    ``max_doc_freq``, expand each array's a<b pairs MAP-SIDE, then count
    common shingles per pair.

    Versus the self-join formulation (:func:`jaccard_pairs` over
    :func:`exploded_shingles` with a cap), this halves the explode/hash
    work (the shingle set is materialized once, not once per join side),
    drops the freq anti-join entirely, and bounds the pair expansion at
    ``max_doc_freq²`` per shingle inside a single projection — the shape
    you want at 100 TB: shuffle keys are (shingle) then (a, b), both
    high-cardinality, and no driver-side or broadcast structure grows with
    the corpus."""
    grouped = (
        shingles.groupBy("shingle")
        .agg(F.collect_list(F.col(id_col)).alias("_ids"))
        .filter(F.size("_ids") <= max_doc_freq)
    )
    kept = grouped.select(F.explode("_ids").alias(id_col))
    sizes = kept.groupBy(id_col).agg(F.count("*").alias("sz"))
    ids = F.array_sort("_ids")
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                ids,
                lambda x: F.transform(ids, lambda y: F.struct(x.alias("a"), y.alias("b"))),
            )
        ),
        lambda p: p["a"] < p["b"],
    )
    inter = (
        grouped.select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def simhash16(
    shingles: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """16-bit SimHash per document from the first 4 md5 nibbles of each
    shingle: bit_i contributes +1 when set else −1; sign of the sum forms
    the fingerprint. Pure expressions (explode → groupBy sum) and
    engine-portable (conv/md5 exist in both engines)."""
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 4), 16, 10).cast("long")
    withbits = shingles.select(
        F.col(id_col),
        *[
            (F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{i}")
            for i in range(16)
        ],
    )
    sums = withbits.groupBy(id_col).agg(*[F.sum(f"b{i}").alias(f"s{i}") for i in range(16)])
    fp = None
    for i in range(16):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return sums.select(F.col(id_col), fp.cast("long").alias("simhash"))


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int | None = 16,
    target_cluster_size: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, IVF-bucketed: assign each vector to
    its nearest deterministic centroid (the first ``n_clusters`` vectors by
    id), then compare only within a cluster — the quadratic join becomes
    per-cluster local. Returns (a, b, cosine >= threshold).

    ``n_clusters=None`` derives the cluster count from the data
    (≈ rows / target_cluster_size): a fixed k makes the per-cluster pair
    join ~N²/k, which grows quadratically again as N scales past k·target.
    The count() is one cheap metadata-ish job per call, amortized over the
    whole pair search. For bucket-count-free scaling see
    ``embedding_near_dups_lsh``."""
    from etl_consumer_spark.extensions.similarity import cosine_sim

    if n_clusters is None:
        n_rows = emb.count()
        n_clusters = max(16, -(-n_rows // target_cluster_size))  # ceil div
    centroids = emb.orderBy(id_col).limit(n_clusters).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    scored = emb.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cid"),
        cosine_sim(F.col(vec_col), F.col("cvec")).alias("csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cid").asc())
    assigned = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    a = assigned.select(F.col("cid"), F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = assigned.select(F.col("cid"), F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, "cid")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine_sim(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_dups_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH buckets — the
    fully data-independent scale path: bucket count is 2^n_planes and the
    candidate join is an equi-join on the bucket key, so expected bucket
    occupancy is N/2^n_planes regardless of how N grows (raise n_planes as
    the corpus grows; no centroid table, no count() pre-pass).

    Recall trade-off vs IVF: a near-dup pair is missed iff some hyperplane
    splits it — P(split) ≈ θ/π per plane (Charikar, STOC 2002); for
    cosine ≥ 0.95 pairs and 8 planes, recall ≈ (1 − 0.102)^8 ≈ 0.42 per
    table — production use banding like MinHash-LSH (several independent
    plane sets, union the candidates).

    ``max_bucket_size`` guards the same hot-bucket quadratic failure as in
    :func:`candidate_pairs` (dense embedding regions collapse into one
    bucket)."""
    from etl_consumer_spark.extensions.similarity import cosine_sim, hyperplane_lsh_bucket

    par = emb.sparkSession.sparkContext.defaultParallelism
    bucketed = emb.repartition(par).select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_lsh_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    if max_bucket_size is not None:
        hot = (
            bucketed.groupBy("bucket")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("bucket")
        )
        bucketed = bucketed.join(F.broadcast(hot), "bucket", "left_anti")
    a = bucketed.select(F.col("bucket"), F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = bucketed.select(F.col("bucket"), F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine_sim(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_dups_lsh_auto(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_planes: int = 16,
    dim: int = 64,
    target_bucket: int = 32,
) -> DataFrame:
    """:func:`embedding_near_dups_lsh` with the plane count DERIVED from the
    corpus size AT EXECUTION TIME — no driver-side ``count()`` (ADVICE r10:
    the eager count ran a Spark job merely on plan construction, during
    explain/lint/registry enumeration).

    Derivation is integer-exact so both engines agree at every scale (a
    float ``ceil(log2(n/32))`` flips on the last ulp exactly at power-of-two
    corpus sizes): ``planes = greatest(4, length(bin((n-1) div 32)))`` is
    the smallest p with ``n <= target_bucket * 2^p``, floored at 4. All
    ``max_planes`` sign bits are computed per row (each is one dim-length
    fold — linear) and the bucket is the length-``planes`` PREFIX, where
    ``planes`` rides in as a broadcast one-row scalar; occupancy therefore
    stays ~``target_bucket`` up to ``target_bucket * 2^max_planes`` vectors
    (2M at the defaults — pass a larger ``max_planes`` beyond that)."""
    from etl_consumer_spark.extensions.similarity import cosine_sim, hyperplane_lsh_bucket

    planes = emb.agg(
        F.least(
            F.lit(max_planes),
            F.greatest(
                F.lit(4),
                F.length(F.expr(f"bin((count(*) - 1) DIV {target_bucket})")),
            ),
        ).alias("_planes")
    )
    par = emb.sparkSession.sparkContext.defaultParallelism
    bucketed = (
        emb.repartition(par)
        .crossJoin(F.broadcast(planes))
        .select(
            F.col(id_col),
            F.col(vec_col),
            hyperplane_lsh_bucket(F.col(vec_col), max_planes, dim)
            .substr(F.lit(1), F.col("_planes"))
            .alias("bucket"),
        )
    )
    a = bucketed.select(F.col("bucket"), F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = bucketed.select(F.col("bucket"), F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine_sim(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def simhash_hamming_pairs(
    simhashes: DataFrame,
    id_col: str = "doc_id",
    max_distance: int = 3,
    n_blocks: int = 4,
    bits: int = 16,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, found via bit-block
    LSH instead of an all-pairs comparison (Charikar '02 / the Google
    near-dup crawl paper's approach, Manku et al. '07).

    Pigeonhole: two fingerprints within Hamming distance ``d`` must agree
    exactly on at least one of ``d+1`` disjoint bit blocks, so candidate
    generation is an equi-join on ``(block_idx, block_value)`` — linear in
    corpus size for bounded buckets — followed by an exact popcount filter.
    ``n_blocks`` must be ``>= max_distance + 1`` for zero false negatives.

    Hot buckets (a block value shared by a boilerplate cluster) are capped
    at ``max_bucket_size`` before the pair expansion, the same quadratic
    guard as :func:`candidate_pairs`; fingerprints ride along inside the
    grouped arrays so the expansion never re-joins the fingerprint table.
    """
    if n_blocks < max_distance + 1:
        raise ValueError("need n_blocks >= max_distance+1 for exact recall")
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    blocks = simhashes.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright("simhash", i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("_b"),
    ).select(
        F.col(id_col), "simhash", F.col("_b.blk").alias("blk"), F.col("_b.val").alias("val")
    )
    grouped = (
        blocks.groupBy("blk", "val")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("fp"))
            ).alias("_ids")
        )
        .filter(F.size("_ids") <= max_bucket_size)
    )
    ids = F.array_sort("_ids")
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                ids,
                lambda x: F.transform(
                    ids,
                    lambda y: F.struct(
                        x["id"].alias("a"),
                        y["id"].alias("b"),
                        x["fp"].alias("fa"),
                        y["fp"].alias("fb"),
                    ),
                ),
            )
        ),
        lambda p: p["a"] < p["b"],
    )
    pairs = (
        grouped.select(F.explode(pair_structs).alias("_p"))
        .select(
            F.col("_p.a").alias("a"),
            F.col("_p.b").alias("b"),
            F.col("_p.fa").alias("fa"),
            F.col("_p.fb").alias("fb"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .filter(F.col("hamming") <= max_distance)
        .select("a", "b", F.col("hamming").cast("int").alias("hamming"))
    )


def containment_pairs(
    shingles: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric near-dup scores for candidate pairs: containment
    ``|A∩B|/|A|`` and ``|A∩B|/|B|`` (Broder '97's second resemblance
    measure). Jaccard misses subset relations — a document wholly contained
    in a much larger one scores low Jaccard but containment 1.0; it is the
    right signal for dropping quoted/aggregated copies from a training
    corpus. Same bounded join shape as :func:`jaccard_pairs` restricted to
    candidates.

    The shingle frame is first semi-joined to the documents that appear in
    ``pairs``: per-doc sizes and intersections are unchanged (a kept doc
    keeps all its shingles), but the self-join shrinks from corpus-sized
    to candidate-sized — at 100 TB candidates are a vanishing fraction of
    the corpus, and scoring them must not re-run the all-pairs join."""
    cand_docs = (
        pairs.select(F.col("a").alias(id_col))
        .unionByName(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    shingles = shingles.join(cand_docs, id_col, "left_semi")
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = shingles.select(F.col("shingle"), F.col(id_col).alias("a"))
    b = shingles.select(F.col("shingle"), F.col(id_col).alias("b"))
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
        .join(pairs, ["a", "b"], "left_semi")
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (F.col("n_common") / F.col("sz_a")).alias("containment_a"),
            (F.col("n_common") / F.col("sz_b")).alias("containment_b"),
        )
    )


def semdedup_flags(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    scale: int = 1000,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rank: int | None = 128,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup by
    clustering embeddings, ranking each cluster's members by distance to
    the centroid, and flagging a member as a duplicate when its cosine
    similarity to ANY earlier-ranked (more central) member reaches
    ``tau`` — the keep-the-most-central greedy the paper ships.

    Determinism: clustering is the quantized Lloyd loop of
    :func:`~etl_consumer_spark.extensions.similarity.kmeans_lloyd_quantized`
    (exact integer distances), the rank key is (d2, id), and cosine is
    CAST(dot AS DOUBLE)/(sqrt(na)*sqrt(nb)) over exact integer dot/norms —
    every comparison bit-reproducible on any engine.

    Scale shape: the within-cluster pair mass is bounded by ``max_rank`` —
    a member's cosine is checked against at most the ``max_rank`` MOST
    CENTRAL earlier members, so per-cluster work is O(max_rank * m)
    (linear in m), the same capping device as the capped-LSH dedup family.
    The cap only binds when a cluster outgrows it (the paper's own regime
    keeps clusters bounded by growing k ~ sqrt(N); the cap is the
    deterministic guard for when it isn't retuned). Pairs carry only the
    two quantized vectors, the dot product is one zip_with fold per pair,
    and the final argmax is a map-side-combinable groupBy(max). No global
    windows — the rank is partitioned by cluster. ``max_rank=None``
    removes the cap (the paper-exact quadratic form).

    Returns (id, cl, rnk, max_cos_earlier, is_dup); rank-1 members (the
    cluster representatives) carry max_cos_earlier = -1 and is_dup = 0.
    """
    from etl_consumer_spark.extensions.similarity import kmeans_lloyd_quantized

    assigned = kmeans_lloyd_quantized(
        emb, k=k, iterations=iterations, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    q = emb.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: F.round(x * scale).cast("long")).alias("qv"),
    ).withColumn(
        "nrm",
        F.aggregate("qv", F.lit(0).cast("long"), lambda acc, x: acc + x * x),
    )
    ranked = assigned.withColumn(
        "rnk",
        F.row_number().over(Window.partitionBy("cl").orderBy("d2", "id")),
    ).join(q, "id").localCheckpoint(eager=True)
    # ^ three consumers (both pair sides + the final flag join) would each
    # re-run the assignment pass, the rank window and the qv join — one
    # row per vector, so materializing once is batch-bounded
    a = ranked.select(
        "cl", F.col("rnk").alias("arnk"),
        F.col("qv").alias("aqv"), F.col("nrm").alias("anrm"),
    )
    b = ranked.select(
        F.col("id").alias("bid"), "cl", F.col("rnk").alias("brnk"),
        F.col("qv").alias("bqv"), F.col("nrm").alias("bnrm"),
    )
    dot = F.aggregate(
        F.zip_with("aqv", "bqv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dot.cast("double") / (
        F.sqrt(F.col("anrm").cast("double")) * F.sqrt(F.col("bnrm").cast("double"))
    )
    if max_rank is not None:
        # the capped a side is bounded by k * max_rank rows INDEPENDENT of
        # corpus size — a cardinality-bounded broadcast (guide §3.1). The
        # checkpointed inputs carry no size statistics, so without the hint
        # Catalyst falls back to a sort-merge join on the k-valued cluster
        # id (r13 watch item: full quantized vectors shuffled on BOTH
        # sides, k-way parallelism at best); broadcasting the capped side
        # removes both payload exchanges — only (bid, cs) scalars shuffle
        # afterwards (guide §2.3 "shuffle keys, not payloads"). The
        # uncapped paper-exact form stays a shuffle join: its a side grows
        # with the corpus.
        a = F.broadcast(a.where(F.col("arnk") <= max_rank))
    mx = (
        a.join(b, "cl")
        .where(F.col("arnk") < F.col("brnk"))
        .select("bid", cos.alias("cs"))
        .groupBy("bid")
        .agg(F.max("cs").alias("mx"))
    )
    return (
        ranked.join(mx, ranked.id == mx.bid, "left")
        .select(
            ranked.id.alias("id"),
            "cl",
            F.col("rnk").cast("long").alias("rnk"),
            F.round(F.coalesce("mx", F.lit(-1.0)), 6).alias("max_cos_earlier"),
            F.when(F.coalesce("mx", F.lit(-1.0)) >= tau, 1)
            .otherwise(0).cast("long").alias("is_dup"),
        )
    )
