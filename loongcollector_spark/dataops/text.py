"""Text analysis + deduplication primitives over a ``documents``-shaped table
``(doc_id, text, lang, source, n_chars)``.

Everything here is pure Column expressions (whole-stage codegen; explode +
partial-agg shapes that scale: per-doc work is independent, the only shuffles
are the groupBy(doc_id) re-assemblies and the LSH band self-join, all keyed by
high-cardinality keys with no skew).

Hash base is md5 (same hex string in Spark and DuckDB) so every operator has a
bit-exact SQL oracle.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window

# Tiny English stopword set for language-ID / quality heuristics (public
# knowledge; deliberately small so the SQL oracle mirrors it 1:1).
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "for", "on"]

MOD31 = 2147483647  # 2^31 - 1, fingerprint modulus


def words(col) -> Column:
    """Lowercased whitespace tokenization."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.split(F.lower(c), r"\s+")


def _let(col: Column, fn) -> Column:
    """Let-binding: evaluate ``col`` ONCE and pass it to ``fn`` as a lambda
    variable. Without this, every reference to a subexpression re-inlines it
    (CollapseProject + lambda subtrees defeating codegen CSE) — an n-gram
    built with k references to split(text) would re-split the text k times
    PER ELEMENT."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def shingles(words_col: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined). Empty array when < n words.
    The words array is let-bound: one split per row regardless of gram
    count."""

    def build(w: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(-1)))
        grams = F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(n)]),
        )
        return F.array_distinct(
            F.when(F.size(w) >= n, grams).otherwise(F.array().cast("array<string>"))
        )

    return _let(words_col, build)


def minhash_signature(shingles_col: Column, k: int = 8) -> Column:
    """K-element MinHash signature: sig[s] = min(md5(s || ':' || shingle)).

    md5-as-hex-string min is a valid uniform min-hash (lexicographic order on
    hex = numeric order on the 128-bit value) and is reproducible in any SQL
    engine."""
    def hasher(s: int):
        # NB: must be a single-arg lambda — a two-arg lambda would make
        # F.transform pass (element, index) and clobber the seed.
        return lambda x: F.md5(F.concat(F.lit(f"{s}:"), x))

    sigs = [F.array_min(F.transform(shingles_col, hasher(s))) for s in range(k)]
    return F.array(*sigs)


@dataclass
class ExactDedup:
    """Exact deduplication: hash-groupBy on md5(text), keep the lowest doc_id
    per hash. One shuffle on the hash key (high-cardinality, skew-free)."""

    text_col: str = "text"
    id_col: str = "doc_id"

    def apply(self, df: DataFrame) -> DataFrame:
        h = F.md5(F.col(self.text_col)).alias("__text_hash__")
        w = Window.partitionBy("__text_hash__").orderBy(F.col(self.id_col))
        return (
            df.withColumn("__text_hash__", h)
            .withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__rn__")
        )


def exploded_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """(id, shingle) rows — distinct word n-grams exploded.

    This is the scale shape for everything downstream: the shingle expression
    is evaluated ONCE per row in the explode projection and every later stage
    works on plain columns. (Keeping shingles as nested array expressions and
    referencing them k times would inline the whole construction k-fold —
    lambda subtrees defeat codegen CSE and the plan blows up.)"""
    return df.select(
        F.col(id_col),
        F.explode(shingles(words(F.col(text_col)), shingle_n)).alias("shingle"),
    ).distinct()


def capped_bucket_pairs(
    bands: DataFrame,
    keys: Sequence[str],
    id_col: str,
    max_bucket: int,
    n_anchors: int = 1,
) -> DataFrame:
    """Candidate pairs from bucket co-membership, with a per-bucket pair
    BOUND (standard large-scale MinHash/LSH practice — a 10k-copy boilerplate
    cluster must not produce 10⁸ pairs):

    - bucket size ≤ ``max_bucket``: all pairs (≤ max_bucket² per bucket);
    - oversized buckets: only pairs touching the bucket's ``n_anchors``
      lowest-id members (≤ n_anchors·k per bucket). With ``n_anchors=1`` this
      is min-id-representative star pairing: every member still pairs with
      the representative, so connected-components clustering is unchanged for
      true dup clusters.

    ``n_anchors=1`` (the MinHash default) needs NO per-bucket sort: bucket
    size + min-id representative come from one groupBy (map-side partial
    agg). ``n_anchors>1`` ranks members with a bucket-keyed window — the
    sort is bounded by the hot-bucket size, not the table."""
    if n_anchors == 1:
        stats = bands.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("__bn__"), F.min(id_col).alias("__rep__")
        )
        tagged = bands.join(stats, list(keys))
        a = tagged.alias("a")
        b = tagged.alias("b")
        on_bucket = None
        for kcol in keys:
            eq = F.col(f"a.{kcol}") == F.col(f"b.{kcol}")
            on_bucket = eq if on_bucket is None else (on_bucket & eq)
        small = a.join(
            b,
            on_bucket
            & (F.col("a.__bn__") <= max_bucket)
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        # star pairs: representative × every other member (rep = bucket min
        # id, so rep < id always)
        big = tagged.filter(
            (F.col("__bn__") > max_bucket) & (F.col(id_col) != F.col("__rep__"))
        ).select(F.col("__rep__").alias("id_a"), F.col(id_col).alias("id_b"))
        return small.unionByName(big).distinct()

    wb = Window.partitionBy(*keys)
    ranked = bands.withColumn(
        "__rk__", F.row_number().over(wb.orderBy(id_col))
    ).withColumn("__bn__", F.count(F.lit(1)).over(wb))
    a = ranked.alias("a")
    b = ranked.alias("b")
    on_bucket = None
    for kcol in keys:
        eq = F.col(f"a.{kcol}") == F.col(f"b.{kcol}")
        on_bucket = eq if on_bucket is None else (on_bucket & eq)
    small = (
        a.join(
            b,
            on_bucket
            & (F.col("a.__bn__") <= max_bucket)
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )
    big = (
        a.join(
            b,
            on_bucket
            & (F.col("a.__bn__") > max_bucket)
            & (F.col("a.__rk__") <= n_anchors)
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
    )
    return small.unionByName(big).distinct()


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    max_bucket: int | None = 64,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH near-duplicate candidates: (id_a, id_b) sharing ≥1 band
    bucket.

    Dataflow (all shuffles keyed by high-cardinality ids/buckets):
    explode shingles → k min-aggregates per doc (map-side partial agg) →
    band keys from the k plain columns → explode bands → self-join on
    (band, bkey). The join key space is the bucket space, so the shuffle is
    uniform unless a bucket is genuinely hot (a true dup cluster) — which is
    why oversized buckets are capped to min-id-representative star pairs
    (``max_bucket``; see capped_bucket_pairs). ``max_bucket=None`` restores
    the unbounded self-join.

    The (id, band, bkey) frame is PERSISTED (memory-and-disk) before the
    self-join: the bucket-stats aggregate, the pair join's two sides and the
    star branch all reference it, and without the materialization each
    reference re-runs the whole scan→shingle→min-aggregate signature build
    (CollapseProject re-inlines; at 100 TB a 4-8× shingle+md5 recompute is
    the dominant cost). ``shingles_df`` lets a caller share one (persisted)
    exploded-shingle frame with jaccard_verify."""
    sh = (
        shingles_df
        if shingles_df is not None
        else exploded_shingles(df, id_col, text_col, shingle_n)
    )
    mins = sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))).alias(f"__h{s}__")
            for s in range(k)
        ]
    )
    n_bands = k // rows_per_band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(
                        *[F.col(f"__h{b * rows_per_band + j}__") for j in range(rows_per_band)]
                    )
                ).alias("bkey"),
            )
            for b in range(n_bands)
        ]
    )
    bands = mins.select(F.col(id_col), F.explode(band_structs).alias("bp")).select(
        id_col, F.col("bp.band").alias("band"), F.col("bp.bkey").alias("bkey")
    )
    # one signature build total: every downstream reference (stats, join
    # sides, star branch) reads the materialized frame (n_docs × n_bands
    # rows of (id, int, 32-hex) — small next to the input corpus)
    bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    if max_bucket is not None:
        return capped_bucket_pairs(bands, ["band", "bkey"], id_col, max_bucket)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.6,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Verify candidate pairs with the true shingle-set Jaccard; emit pairs
    with similarity ≥ threshold.

    Exploded-join shape: |∩| = count of equal shingles joined through the
    candidate pair, |∪| = n_a + n_b − |∩|. All joins are equi-joins on ids /
    (id, shingle) — no per-row set arrays are ever collected. The shingle
    frame is referenced three times (sizes + both join sides); all three
    reference ONE DataFrame (pass ``shingles_df`` to share it with the
    candidate stage too, as minhash_near_dup_pairs does) so Catalyst's
    exchange reuse materializes the scan→shingle→distinct shuffle once —
    shuffle-file-backed reuse, no executor-memory cache needed."""
    sh = (
        shingles_df
        if shingles_df is not None
        else exploded_shingles(df, id_col, text_col, shingle_n)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("shingle").alias("__sa__"))
    sh_b = sh.select(F.col(id_col).alias("__idb__"), F.col("shingle").alias("__sb__"))
    inter = (
        candidates.join(sh_a, "id_a")
        .join(
            sh_b,
            (F.col("id_b") == F.col("__idb__")) & (F.col("__sa__") == F.col("__sb__")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    out = (
        candidates.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.coalesce(F.col("i"), F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    k: int = 8,
    rows_per_band: int = 2,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → minhash → band →
    bucket-join (hot buckets star-capped) → Jaccard verify.

    ONE exploded-shingle DataFrame feeds both the signature build and the
    Jaccard verify's three references: identical exchange subtrees are
    computed once and ReusedExchange serves the rest from shuffle files
    (measured at sf0.1/local[32]: 4.5 s vs 6.4 s for per-stage rebuilds and
    5.0 s for an explicit memory-and-disk persist of the shingle frame —
    plan sharing beats caching because the reuse rides the shuffle spill
    that the distinct() pays anyway, with no cache materialization barrier)."""
    sh = exploded_shingles(df)
    cands = minhash_candidate_pairs(
        df, k=k, rows_per_band=rows_per_band, max_bucket=max_bucket, shingles_df=sh
    )
    return jaccard_verify(cands, df, threshold=threshold, shingles_df=sh)


def star_contraction_components(
    edges: DataFrame,
    max_rounds: int = 20,
) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log n) rounds on ANY graph — including
    the pathological long chains where min-label propagation needs
    O(diameter) rounds.

    - large-star(u): attach every strictly-larger neighbor of u to
      min(N(u) ∪ u);
    - small-star(u): attach u and its smaller neighbors (bar the min) to
      min(smaller neighbors ∪ u).

    Each round = two groupBy(min) aggregates + equi-joins keyed by node id;
    ``localCheckpoint`` truncates the iterative lineage. Input ``edges``:
    (src, dst) long pairs (any orientation, self-loops ignored). Returns
    (labels (id, label), rounds_used)."""
    E = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .unionByName(
            edges.filter(F.col("src") != F.col("dst")).select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = E.select(F.col("src").alias("id")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        # large-star over the symmetric edge set
        mins = E.groupBy("src").agg(F.min("dst").alias("mn"))
        large = (
            E.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(
                F.col("dst").alias("src"),
                F.least("mn", F.col("src")).alias("dst"),
            )
            .distinct()
        )
        # small-star over edges oriented big→small
        S = large.filter(F.col("src") > F.col("dst")).unionByName(
            large.filter(F.col("src") < F.col("dst")).select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        smins = S.groupBy("src").agg(F.min("dst").alias("mn"))
        joined = S.join(smins, "src")
        small = (
            joined.filter(F.col("dst") != F.col("mn"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .unionByName(smins.select(F.col("src"), F.col("mn").alias("dst")))
            .distinct()
            .localCheckpoint()
        )
        new_E = small.unionByName(
            small.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        changed = new_E.exceptAll(E).limit(1).count()
        E.unpersist()
        E = new_E.persist(StorageLevel.MEMORY_AND_DISK)
        if changed == 0:
            break
    roots = E.filter(F.col("src") > F.col("dst")).groupBy("src").agg(
        F.min("dst").alias("label")
    )
    labels = (
        nodes.join(roots.withColumnRenamed("src", "id"), "id", "left")
        .select("id", F.coalesce("label", F.col("id")).alias("label"))
    )
    return labels, rounds


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 10,
    algorithm: str = "auto",
) -> DataFrame:
    """Connected components over near-duplicate pairs → (doc_id, cluster)
    with cluster = min doc_id of the component (the canonical survivor).

    Iterative min-label propagation: each round every node takes the minimum
    label among itself and its neighbors; converges in O(component diameter)
    rounds (checked per round, early exit). Per round: one shuffle join on
    node id + one aggregate — the standard large-graph CC shape (dup
    components are tiny in practice, so rounds ≈ 2-3).

    ``algorithm='auto'`` (default): min-label propagation, and if a
    component's diameter exceeds ``max_iter`` (non-convergence detected by
    the per-round changed-count), finish with large-star/small-star
    contraction instead of returning unmerged labels — correctness never
    depends on the diameter guess. ``'star'`` forces contraction up front
    (O(log n) rounds on ANY graph, ~2× the per-round shuffles);
    ``'label'`` is pure min-label and warns on non-convergence."""
    if algorithm == "star":
        edges = pairs.select(
            F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
        )
        labels, _ = star_contraction_components(edges, max_rounds=max_iter)
        return labels.select(
            F.col("id").alias("doc_id"), F.col("label").alias("cluster")
        )
    # persist: edges are re-joined EVERY round — without materialization each
    # iteration re-runs the entire upstream pairs pipeline (minhash + verify)
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("label", F.col("id"))
    changed = -1
    for _ in range(max_iter):
        neigh = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
            )
        ).localCheckpoint()  # truncate the iterative lineage
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        if algorithm == "auto":
            # long-diameter component: finish with star contraction over the
            # original edges AUGMENTED with (id → current label) shortcuts —
            # the originals guarantee connectivity, the shortcuts collapse
            # the already-propagated subchains so the O(log n) phase starts
            # from the label-prop progress instead of scratch
            lab_edges = labels.select(
                F.col("id").cast("long").alias("src"),
                F.col("label").cast("long").alias("dst"),
            ).unionByName(
                edges.select(
                    F.col("src").cast("long").alias("src"),
                    F.col("dst").cast("long").alias("dst"),
                )
            )
            star_labels, _ = star_contraction_components(lab_edges, max_rounds=50)
            return star_labels.select(
                F.col("id").alias("doc_id"), F.col("label").alias("cluster")
            )
        import warnings

        warnings.warn(
            f"near_dup_clusters did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter) — labels may be unmerged; "
            "raise max_iter or switch to star-contraction",
            stacklevel=2,
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster"))


def sample_by_hash(
    df: DataFrame, rate_pct: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic content-addressed sampling: keep a row iff
    md5(id) mod 100 < rate_pct. Reproducible across engines and runs (no RNG
    state), stable under repartitioning — the right way to sample training
    data at 100 TB."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10).cast("int")
    return df.filter(h % 100 < rate_pct)


def pack_token_bins(
    df: DataFrame,
    bin_tokens: int,
    part_col: str = "source",
    id_col: str = "doc_id",
    tok_col: str = "n_tok",
    n_shards: int | None = None,
) -> DataFrame:
    """Sequence packing: assign docs (ordered by id within a partition key)
    to consecutive training bins of ``bin_tokens`` budget — bin =
    floor(exclusive-prefix-sum(n_tok) / bin_tokens).

    TWO-PHASE distributed prefix sum (a single
    ``Window.partitionBy(source)`` would sort an entire source in ONE task —
    straggler/OOM with a handful of sources at 100 TB):

    1. range-partition by (source, id) into ``n_shards`` contiguous chunks
       (localCheckpoint pins the chunk boundaries so both consumers of the
       sharded frame see identical spark_partition_ids);
    2. per-(source, chunk) local exclusive prefix sums — each window task
       sorts only its chunk;
    3. per-chunk totals (tiny: n_shards rows) → cumulative chunk offsets via
       a window over the TINY totals frame → broadcast-joined back;
    4. bin = floor((chunk_offset + local_prefix) / bin_tokens).

    The result is identical to the global single-window formulation (the
    oracle SQL keeps that form) and independent of ``n_shards``."""
    from pyspark.sql import Window

    spark = df.sparkSession
    shards = n_shards or spark.sparkContext.defaultParallelism
    sh = (
        df.repartitionByRange(shards, F.col(part_col), F.col(id_col))
        .withColumn("__pid__", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = sh.groupBy(part_col, "__pid__").agg(
        F.sum(tok_col).alias("__t__"), F.min(id_col).alias("__mn__")
    )
    w_off = (
        Window.partitionBy(part_col)
        .orderBy("__mn__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__off__", F.coalesce(F.sum("__t__").over(w_off), F.lit(0))
    ).select(part_col, "__pid__", "__off__")
    w_local = (
        Window.partitionBy(part_col, "__pid__")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(tok_col).over(w_local), F.lit(0))
    out = sh.join(F.broadcast(offsets), [part_col, "__pid__"])
    return (
        out.withColumn("bin", F.floor((F.col("__off__") + local) / bin_tokens).cast("int"))
        .drop("__pid__", "__off__")
    )


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash: per word, val = first 16 bits of md5; per bit b, sum
    +1/-1 over words; simhash bit b = (sum > 0). Explode + one groupBy with 16
    conditional sums — map-side partial aggregation keeps the shuffle tiny."""
    w = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("word"))
    val = F.conv(F.substring(F.md5(F.col("word")), 1, 4), 16, 10).cast("int")
    sums = [
        F.sum(
            F.when(F.shiftright(val, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(16)
    ]
    agg = w.groupBy(id_col).agg(*sums)
    sim = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.cast("int").alias("simhash"))


def hamming16(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-bit simhash ints (JVM popcount)."""
    return F.bit_count(a.bitwiseXOR(b))


# --- text analysis -----------------------------------------------------------


def stopword_count(words_col: Column, stopwords: Sequence[str] = STOPWORDS) -> Column:
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(words_col, lambda w: F.array_contains(sw, w)))


def quality_metrics(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Quality scoring: word count, mean word length, stopword ratio,
    punctuation ratio, composite quality score (heuristics in the spirit of
    C4/Gopher text-quality filters, SQL-oracle-reproducible)."""
    t = F.col(text_col)
    w = words(t)
    n_words = F.size(w)
    avg_wlen = F.round(
        F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
        / F.greatest(n_words, F.lit(1)),
        4,
    )
    sw_ratio = F.round(stopword_count(w) / F.greatest(n_words, F.lit(1)), 4)
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    punct_ratio = F.round(punct / F.greatest(F.length(t), F.lit(1)), 4)
    score = F.round(
        F.when((n_words >= 10) & (n_words <= 100000), 0.4).otherwise(0.0)
        + F.when((avg_wlen >= 3) & (avg_wlen <= 10), 0.3).otherwise(0.0)
        + F.when(sw_ratio >= 0.05, 0.3).otherwise(0.0)
        - F.when(punct_ratio > 0.2, 0.5).otherwise(0.0),
        4,
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        avg_wlen.alias("avg_word_len"),
        sw_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


def langid(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Language ID heuristic: English stopword ratio ≥ 2% → 'en', else
    'unknown'. (N-gram profiles degenerate to stopword profiles at this corpus
    size; the operator shape — per-doc score + argmax — is what matters.)"""
    w = words(F.col(text_col))
    ratio = stopword_count(w) / F.greatest(F.size(w), F.lit(1))
    return df.select(
        F.col(id_col),
        F.when(ratio >= 0.02, "en").otherwise("unknown").alias("pred_lang"),
    )


TOKEN_RX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (letters-run | digits-run | single punct)."""
    t = F.col(text_col)
    return df.withColumn("ws_tokens", F.size(words(t))).withColumn(
        "re_tokens", F.size(F.regexp_extract_all(t, F.lit(TOKEN_RX), 0))
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprint: polynomial rolling hash over words,
    h = fold(words, 0, (h, w) -> (h*31 + int(md5(w)[:8], 16)) mod (2^31-1)).
    Deterministic, order-sensitive, O(words) per doc, no shuffle."""
    w = words(F.col(text_col))
    wv = F.transform(w, lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long"))
    fp = F.aggregate(
        wv, F.lit(0).cast("long"), lambda acc, v: (acc * 31 + v) % MOD31
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def max_multiplicity(arr: Column) -> Column:
    """Highest multiplicity of any element: longest equal-run on the sorted
    array, via one fold — O(k log k) per row, JVM-side, NO shuffle (the
    explode→groupBy→max alternative shuffles every gram)."""
    return F.aggregate(
        F.sort_array(arr),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def gopher_repetition(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality measures (Rae et al. 2021, "Scaling
    Language Models", table A1 repetition filters — public method): per doc,
    the share of the most frequent word, duplicate-2/3-gram fractions, and
    the top-2-gram share, plus a composite keep flag. All measures are
    per-row array folds — no shuffle, scales linearly with the corpus.
    The words array and both gram arrays are let-bound (nested _let) so the
    split and each gram build run ONCE per row regardless of how many
    measures reference them; the measures struct is expanded in a separate
    projection (CollapseProject does not inline a non-cheap multi-referenced
    alias). Thresholds are tuned to the synthetic corpus so the flag is
    non-degenerate (~59% pass at sf0.01)."""

    def metrics(w: Column) -> Column:
        n_words = F.size(w)

        def build(n: int) -> Column:
            idx = F.sequence(F.lit(1), F.greatest(n_words - (n - 1), F.lit(0)))
            grams = F.transform(
                idx,
                lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)]),
            )
            return F.when(n_words >= n, grams).otherwise(
                F.array().cast("array<string>")
            )

        def dup_frac(g: Column) -> Column:
            return F.when(F.size(g) == 0, F.lit(0.0)).otherwise(
                F.round(F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g), 4)
            )

        def inner(gs: Column) -> Column:
            g2, g3 = gs["g2"], gs["g3"]
            return F.struct(
                n_words.alias("n_words"),
                F.round(
                    max_multiplicity(w) / F.greatest(n_words, F.lit(1)), 4
                ).alias("top_word_share"),
                dup_frac(g2).alias("dup_2gram_frac"),
                dup_frac(g3).alias("dup_3gram_frac"),
                F.when(F.size(g2) == 0, F.lit(0.0))
                .otherwise(F.round(max_multiplicity(g2) / F.size(g2), 4))
                .alias("top_2gram_share"),
            )

        return _let(F.struct(build(2).alias("g2"), build(3).alias("g3")), inner)

    m = df.select(
        F.col(id_col), _let(words(F.col(text_col)), metrics).alias("m")
    )
    return m.select(
        F.col(id_col),
        F.col("m.n_words").alias("n_words"),
        F.col("m.top_word_share").alias("top_word_share"),
        F.col("m.dup_2gram_frac").alias("dup_2gram_frac"),
        F.col("m.dup_3gram_frac").alias("dup_3gram_frac"),
        F.col("m.top_2gram_share").alias("top_2gram_share"),
        (
            (F.col("m.top_word_share") <= 0.12)
            & (F.col("m.dup_2gram_frac") <= 0.05)
            & (F.col("m.top_2gram_share") <= 0.06)
        )
        .cast("int")
        .alias("repetition_ok"),
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word n-gram
    with an eval set (the n-gram-overlap method used for public LLM training
    corpora; n is configurable — 13 in GPT-3's published setup, 3 here so the
    tiny synthetic vocab yields non-degenerate overlap). The eval gram set is
    DISTINCT + broadcast (eval benchmarks are small by construction), so the
    probe is one explode + broadcast hash join + per-doc partial agg — no
    all-pairs, no shuffle on the join, linear in the training corpus at
    100 TB."""
    gram = shingles(words(F.col(text_col)), n)
    ev = (
        eval_df.select(F.explode(gram).alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tr = train_df.select(F.col(id_col), F.explode_outer(gram).alias("gram"))
    joined = tr.join(F.broadcast(ev), "gram", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("gram").cast("long").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("overlap_grams"),
        )
        .withColumn("contaminated", (F.col("overlap_grams") > 0).cast("int"))
    )


# Gopher quality-rule stop set (Rae et al. 2021 table A1): "contains at
# least 2 of the following stop words: the, be, to, of, and, that, have,
# with" — configurable so small synthetic vocabularies stay non-degenerate.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: Sequence[str] = GOPHER_STOPWORDS,
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style page-quality filters (Rae et al. 2021, table A1 —
    public method; complements ``gopher_repetition``): word-count bounds,
    mean word length in [3,10], symbol-to-word ratio ('#'/'...') ≤ 0.1,
    ≤90%% of lines bullet-led, ≤30%% ellipsis-terminated, ≥80%% of words
    containing an alphabetic char, ≥2 stop-word hits. Per-row array folds,
    ZERO shuffle — embarrassingly parallel at any scale."""
    t = F.col(text_col)

    def build(w: Column) -> Column:
        n_words = F.size(w)
        denom = F.greatest(n_words, F.lit(1))
        mean_wlen = F.round(
            F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x)) / denom, 4
        )
        symbols = F.aggregate(
            w,
            F.lit(0).cast("long"),
            lambda a, x: a
            + F.length(x)
            - F.length(F.regexp_replace(x, r"(#|\.\.\.)", "")),
        )
        symbol_ratio = F.round(symbols / denom, 4)
        alpha_frac = F.round(
            F.size(F.filter(w, lambda x: x.rlike("[a-z]"))) / denom, 4
        )
        sw = F.array(*[F.lit(s) for s in stopwords])
        sw_hits = F.size(F.array_intersect(F.array_distinct(w), sw))
        return F.struct(
            n_words.alias("n_words"),
            mean_wlen.alias("mean_word_len"),
            symbol_ratio.alias("symbol_ratio"),
            alpha_frac.alias("alpha_word_frac"),
            sw_hits.alias("stopword_hits"),
        )

    def lines_metrics(lines: Column) -> Column:
        n_lines = F.greatest(F.size(lines), F.lit(1))
        bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^(•|- )")))
        ellipsis = F.size(F.filter(lines, lambda l: l.endswith("...")))
        return F.struct(
            F.round(bullet / n_lines, 4).alias("bullet_line_frac"),
            F.round(ellipsis / n_lines, 4).alias("ellipsis_line_frac"),
        )

    out = df.select(
        F.col(id_col),
        _let(words(t), build).alias("m"),
        _let(F.split(t, "\n"), lines_metrics).alias("lm"),
    )
    m, lm = F.col("m"), F.col("lm")
    ok = (
        m.getField("n_words").between(min_words, max_words)
        & m.getField("mean_word_len").between(3.0, 10.0)
        & (m.getField("symbol_ratio") <= 0.1)
        & (lm.getField("bullet_line_frac") <= 0.9)
        & (lm.getField("ellipsis_line_frac") <= 0.3)
        & (m.getField("alpha_word_frac") >= 0.8)
        & (m.getField("stopword_hits") >= 2)
    )
    return out.select(
        F.col(id_col),
        m.getField("n_words").alias("n_words"),
        m.getField("mean_word_len").alias("mean_word_len"),
        m.getField("symbol_ratio").alias("symbol_ratio"),
        lm.getField("bullet_line_frac").alias("bullet_line_frac"),
        lm.getField("ellipsis_line_frac").alias("ellipsis_line_frac"),
        m.getField("alpha_word_frac").alias("alpha_word_frac"),
        m.getField("stopword_hits").alias("stopword_hits"),
        ok.cast("int").alias("quality_ok"),
    )


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020 §2.2 — public method).
    Line level: keep lines that end in a terminal punctuation mark
    (. ! ? \"), have ≥ ``min_line_words`` space-words, and don't mention
    'javascript'. Page level: drop pages with a curly bracket, the phrase
    'lorem ipsum', or fewer than ``min_sentences`` sentences after line
    cleaning. Returns per-doc cleaned text + rule counters + keep flag.
    Pure per-row folds — zero shuffle at any scale."""
    t = F.col(text_col)

    def build(lines: Column) -> Column:
        kept = F.filter(
            lines,
            lambda l: l.rlike('[.!?"]$')
            & (F.size(F.filter(F.split(l, " "), lambda x: x != "")) >= min_line_words)
            & ~F.lower(l).contains("javascript"),
        )
        cleaned = F.array_join(kept, "\n")
        n_sentences = F.size(F.regexp_extract_all(cleaned, F.lit("[.!?]"), 0))
        return F.struct(
            F.size(lines).alias("n_lines"),
            F.size(kept).alias("kept_lines"),
            cleaned.alias("cleaned_text"),
            n_sentences.alias("n_sentences"),
        )

    out = df.select(F.col(id_col), t.alias("__t__"), _let(F.split(t, "\n"), build).alias("m"))
    m = F.col("m")
    keep = (
        ~F.col("__t__").contains("{")
        & ~F.lower(F.col("__t__")).contains("lorem ipsum")
        & (m.getField("n_sentences") >= min_sentences)
    )
    return out.select(
        F.col(id_col),
        m.getField("n_lines").alias("n_lines"),
        m.getField("kept_lines").alias("kept_lines"),
        m.getField("n_sentences").alias("n_sentences"),
        m.getField("cleaned_text").alias("cleaned_text"),
        keep.cast("int").alias("page_kept"),
    )


def c4_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 3,
) -> DataFrame:
    """C4 cross-corpus span dedup (Raffel et al. 2020 §2.2 — public method:
    "we discarded all but one of any three-sentence span occurring more than
    once in the data set"). Sentences split on terminal punctuation; every
    ``span``-sentence window hashes (md5) and the corpus-global FIRST
    occurrence (min doc_id, then min start index) keeps it; every sentence
    covered by a duplicated, non-kept window is removed and the doc is
    rebuilt from the surviving sentences.

    Scale shape: explode to one row per window (linear), ONE shuffle — a
    window partial-agg on the span hash to elect owners — then a second
    partial agg back to doc granularity. No all-pairs joins; hot spans
    (boilerplate repeated millions of times) stay one aggregation key whose
    min() combines map-side."""
    t = F.col(text_col)
    # sentence split: terminal-punct boundaries, trimmed, empties dropped
    sentences = F.filter(
        F.transform(F.split(t, r"(?<=[.!?])\s+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    # the sentence frame feeds three consumers (window hashing, the doc
    # rebuild, the totals) — persist so the scan+split runs ONCE, not 3x
    # (the dedup_minhash lesson: an uncached shared subtree dominates at
    # 100 TB)
    base = df.select(F.col(id_col), sentences.alias("__sents__")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n = F.size("__sents__")
    idx = F.sequence(F.lit(0), F.greatest(n - span, F.lit(0)))
    wins = base.select(
        id_col,
        "__sents__",
        n.alias("__n__"),
        F.explode(
            F.when(n >= span, idx).otherwise(F.array().cast("array<int>"))
        ).alias("start"),
    ).select(
        id_col,
        "__sents__",
        "__n__",
        "start",
        F.md5(F.array_join(F.slice("__sents__", F.col("start") + 1, span), "\x01")).alias(
            "span_hash"
        ),
    )
    w = Window.partitionBy("span_hash")
    owned = wins.withColumn(
        "__min_key__", F.min(F.struct(F.col(id_col), F.col("start"))).over(w)
    ).withColumn("__dup__", F.count(F.lit(1)).over(w) > 1)
    losing = owned.filter(
        F.col("__dup__")
        & ~(
            (F.col("__min_key__").getField(id_col) == F.col(id_col))
            & (F.col("__min_key__").getField("start") == F.col("start"))
        )
    )
    # sentences covered by losing windows
    removed = losing.select(
        id_col, F.explode(F.sequence("start", F.col("start") + span - 1)).alias("si")
    ).distinct()
    kept = (
        base.select(id_col, F.posexplode("__sents__").alias("si", "sent"))
        .join(removed, [id_col, "si"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("si", "sent"))),
                    lambda s: s.getField("sent"),
                ),
                " ",
            ).alias("deduped_text"),
            F.count(F.lit(1)).cast("long").alias("kept_sentences"),
        )
    )
    totals = base.select(F.col(id_col), F.size("__sents__").cast("long").alias("n_sentences"))
    return totals.join(kept, id_col, "left").select(
        id_col,
        "n_sentences",
        F.coalesce("kept_sentences", F.lit(0)).alias("kept_sentences"),
        F.coalesce("deduped_text", F.lit("")).alias("deduped_text"),
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    source_col: str = "source",
    default_weight: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic source-mixture sampling for pretraining data mixing
    (the per-source up/down-weighting step of public recipes — e.g. The
    Pile / LLaMA mixture tables): weight w<1 keeps a w-fraction of the
    source (content-addressed hash threshold, like ``sample_by_hash``),
    w>1 emits floor(w) full epochs plus a (w-floor(w))-fraction extra
    epoch. Adds an ``epoch`` column (0-based copy index). No RNG state, no
    shuffle, stable under repartitioning — reproducible at 100 TB; the
    explode is the only fan-out."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 4),
        16,
        10,
    ).cast("int")
    u = h / F.lit(65536.0)
    args: list[Column] = []
    for k, v in weights.items():
        args += [F.lit(k), F.lit(float(v))]
    wmap = F.create_map(*args) if args else F.expr("map()").cast("map<string,double>")
    w = F.coalesce(F.element_at(wmap, F.col(source_col)), F.lit(float(default_weight)))
    full = F.floor(w).cast("int")
    n = full + F.when(u < (w - full), F.lit(1)).otherwise(F.lit(0))
    copies = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("epoch", F.explode(copies))


# ---------------------------------------------------------------------------
# PII redaction (the Dolma/FineWeb pre-training scrub step)
# ---------------------------------------------------------------------------

# Conservative RE2-compatible patterns (no lookarounds) so the DuckDB oracle
# runs the IDENTICAL regex: emails, North-American phone shapes, IPv4.
PII_EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+"
PII_PHONE_RX = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_IPV4_RX = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# Dolma's public mask convention
PII_MASKS = {"email": "|||EMAIL_ADDRESS|||", "phone": "|||PHONE_NUMBER|||", "ip": "|||IP_ADDRESS|||"}


def pii_redact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Mask emails / phone numbers / IPv4 addresses with the Dolma-style
    ``|||…|||`` tokens and count each kind per document. Pure
    ``regexp_replace`` / ``regexp_extract_all`` projections — zero shuffle,
    the ideal 100 TB scan shape. Order matters: emails first (an address
    must not first lose digits to the phone pattern), then phones, then IPs
    (phone masking cannot create an IPv4, and masking is idempotent because
    the mask tokens contain no matchable characters)."""
    t = F.col(text_col)
    n = lambda rx: F.size(F.regexp_extract_all(t, F.lit(rx), 0))  # noqa: E731
    red = F.regexp_replace(t, PII_EMAIL_RX, PII_MASKS["email"])
    red = F.regexp_replace(red, PII_PHONE_RX, PII_MASKS["phone"])
    red = F.regexp_replace(red, PII_IPV4_RX, PII_MASKS["ip"])
    return df.select(
        F.col(id_col),
        red.alias("redacted"),
        n(PII_EMAIL_RX).alias("n_email"),
        n(PII_PHONE_RX).alias("n_phone"),
        n(PII_IPV4_RX).alias("n_ip"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization + per-URL dedup (the CCNet/RefinedWeb crawl-dedup step)
# ---------------------------------------------------------------------------

URL_TRACKING_PARAMS_PREFIXES = ("utm_",)
URL_TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "ref")


def normalize_url(url: Column) -> Column:
    """Canonical form: lowercase scheme+host, default :80/:443 ports
    stripped, fragment stripped, tracking query params removed
    (utm_* / fbclid / gclid / msclkid / ref), remaining params SORTED, and
    the trailing slash of a bare path dropped. Pure string expressions."""
    no_frag = F.substring_index(url, "#", 1)
    scheme = F.lower(F.substring_index(no_frag, "://", 1))
    rest = F.substring_index(no_frag, "://", -1)
    hostport = F.lower(F.substring_index(rest, "/", 1))
    host = F.when(
        ((scheme == "http") & hostport.endswith(":80"))
        | ((scheme == "https") & hostport.endswith(":443")),
        F.substring_index(hostport, ":", 1),
    ).otherwise(hostport)
    path_q = F.when(
        F.length(rest) > F.length(hostport),
        F.substring(rest, F.length(hostport) + 1, F.length(rest)),
    ).otherwise(F.lit(""))
    # split path from query
    path = F.substring_index(path_q, "?", 1)
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.substring(path, 1, F.length(path) - 1),
    ).otherwise(path)
    has_q = F.length(path_q) > F.length(F.substring_index(path_q, "?", 1))
    qparams = F.when(has_q, F.split(F.substring_index(path_q, "?", -1), "&")).otherwise(
        F.array().cast("array<string>")
    )

    def keep(p: Column) -> Column:
        name = F.substring_index(p, "=", 1)
        cond = F.length(p) > 0
        for pref in URL_TRACKING_PARAMS_PREFIXES:
            cond = cond & ~name.startswith(pref)
        for exact in URL_TRACKING_PARAMS:
            cond = cond & (name != exact)
        return cond

    kept = F.array_sort(F.filter(qparams, keep))
    query = F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
        F.lit("")
    )
    return F.concat(scheme, F.lit("://"), host, path, query)


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    priority_col: str | None = None,
) -> DataFrame:
    """One survivor per canonical URL: the highest ``priority_col`` (e.g.
    fetch timestamp — crawl-newest-wins), ties broken by smallest id. One
    hash-partial-aggregatable shuffle on the canonical URL — the same
    max-struct election c4_span_dedup uses, no window over raw rows."""
    prio = F.col(priority_col) if priority_col else F.lit(0)
    pick = F.struct(
        prio.alias("p"), (-F.col(id_col)).alias("nid"), F.col(id_col).alias("id")
    )
    return (
        df.select(normalize_url(F.col(url_col)).alias("canonical_url"), pick.alias("__pick__"))
        .groupBy("canonical_url")
        .agg(F.max("__pick__").alias("w"))
        .select("canonical_url", F.col("w.id").alias(id_col))
    )


def line_dedup(
    df: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact line-level dedup across the corpus (the RefinedWeb/CCNet crawl
    cleanup step): any non-empty line that appears in ``min_docs`` or more
    DISTINCT documents is removed from EVERY document; documents are rebuilt
    with their surviving lines in original order.

    Shape: one posexplode (narrow), ONE partial-aggregatable shuffle keyed
    by line text to elect duplicate lines (count-distinct via the per-doc
    first-occurrence trick: dedup (line, doc) pairs first, then count — both
    stages map-side combinable), an equi-join back, and ONE doc-keyed
    rebuild aggregation. No window over raw rows, no all-pairs — at 100 TB
    the duplicate-line election is a bounded-key aggregate (boilerplate
    lines concentrate on few keys; counts combine map-side so hot lines
    don't skew the shuffle).

    Returns (id_col, text, removed_lines, total_lines)."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    dup_lines = (
        lines.where(F.length("line") > 0)
        .select("line", F.col(id_col))
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("__nd__"))
        .where(F.col("__nd__") >= min_docs)
        .select("line", F.lit(True).alias("__dup__"))
    )
    flagged = lines.join(dup_lines, "line", "left")
    packed = flagged.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("pos"),
                    F.col("line"),
                    F.coalesce(F.col("__dup__"), F.lit(False)).alias("dup"),
                )
            )
        ).alias("__ls__")
    )
    kept = F.filter(F.col("__ls__"), lambda e: ~e.getField("dup"))
    return packed.select(
        F.col(id_col),
        F.array_join(
            F.transform(kept, lambda e: e.getField("line")), "\n"
        ).alias("text"),
        (F.size("__ls__") - F.size(kept)).alias("removed_lines"),
        F.size("__ls__").alias("total_lines"),
    )
