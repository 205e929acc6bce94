"""Deduplication operators for the training-data pipeline.

All operators are pure DataFrame compositions (no Python UDFs), so at
100 TB they execute as shuffled joins/aggregations that Catalyst/AQE
can plan, re-partition, and skew-split:

* **exact** — hash groupBy on the content key; one shuffle.
* **n-gram Jaccard** — explode distinct shingles, self-join on the
  shingle, count shared shingles per pair.  The shuffle key is the
  shingle, so very frequent shingles are the skew risk: the operator
  drops shingles whose document frequency exceeds ``max_shingle_df``
  (stopword-like shingles carry no dedup signal but produce the
  quadratic blowup) — the standard suffix-filtering trick.
* **MinHash LSH** — fixed-size signature per doc (md5-lexicographic
  MinHash, see ``functions.text.minhash_signature``), banded into
  buckets; candidate pairs come from an equi-join on
  ``(band, bucket-hash)`` — shuffle volume is docs × bands, not
  docs², then exact-Jaccard verification on the (small) candidate set.
* **SimHash** — 16-bit signature per doc; duplicates collide exactly.
* **embedding cosine** — self-join pruned by an LSH-style bucket on
  deterministic hyperplane signs (see ``operators.similarity``).

Each operator's result is deterministic (md5-based hashing, explicit
tiebreaks), so the DuckDB oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    distinct_shingles,
    minhash_sig_from_shingles,
    simhash_bits,
)


def dedup_exact(df: DataFrame, content_cols: list[str], order_col: str) -> DataFrame:
    """Exact dedup: keep the first row (lowest ``order_col``) per
    distinct ``content_cols`` tuple.

    ``row_number`` over a hash-partitioned window — one shuffle on the
    content key, same cost profile as ``dropDuplicates`` but with a
    *deterministic* survivor (dropDuplicates keeps an arbitrary row,
    which would break the oracle comparison and reproducibility at
    scale).
    """
    w = Window.partitionBy(*content_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """``(id, shingle)`` rows — one per *distinct* shingle per doc.

    Small parquet inputs arrive as one split; the shingle explode is
    the expensive projection, so spread rows first (same rationale as
    :func:`minhash_feature_table`)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    return df.select(
        F.col(id_col), F.explode(distinct_shingles(text_col, shingle_n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ ``threshold``.

    Output: ``(id_a, id_b, common, n_a, n_b, jaccard)`` with
    ``id_a < id_b``, jaccard floor-scaled to 4 decimals (tie-free
    cross-engine rounding).

    Plan: **prefix filtering** (Bayardo et al., "Scaling Up All Pairs
    Similarity Search", WWW'07) instead of the naive shingle self-join.
    A naive self-join materializes one row per (pair, common shingle) —
    at sf0.1 that is 1.13M colliding pairs of which only ~250 survive
    the threshold; 99.98 % of the shuffle is junk pairs sharing 1-2
    stopword shingles.  Instead:

    1. order shingles globally by (document frequency, shingle) asc —
       rarest first;
    2. index only each doc's PREFIX: its first ``n - ceil(t*n) + 1``
       shingles in that order.  If ``J(A,B) >= t`` then
       ``|A∩B| >= t*|A∪B| >= t*max(|A|,|B|)``, and the pigeonhole
       argument puts ``min(A∩B)`` inside both prefixes — so the
       prefix⨝prefix equi-join yields a candidate SUPERSET;
    3. length filter: ``t*n_a <= n_b <= n_a/t`` (necessary for
       ``J >= t``), applied inside the candidate join, plus PPJoin
       positional filtering (Xiao et al., WWW'08): a collision at
       rarest-first positions ``(rk_a, rk_b)`` can lead to at most
       ``1 + min(n_a - rk_a, n_b - rk_b)`` common shingles, which must
       reach the pair overlap bound ``ceil(t/(1+t) * (n_a + n_b))`` —
       collisions deep in both prefixes are discarded before the pair
       ever materializes (safe: for a qualifying pair the bound holds
       at ``min(A∩B)``'s collision);
    4. verify candidates exactly — join each candidate to the two
       docs' full shingle ARRAYS (one row per doc) and count the true
       overlap with ``array_intersect`` (JVM-side, no re-explode: the
       exploded verify join would shuffle candidates × shingles rows,
       re-inflating what the prefix filter just pruned).

    At sf0.1 this is 43k candidate pairs vs 1.25M collision rows for
    the naive self-join (29×); candidate volume is governed by
    rare-shingle df (~1-3) instead of avg df, so shuffle work tracks
    the TRUE near-dup pair count, not the collision count.
    ``max_shingle_df`` prunes stopword-shingles before any of this
    (mirrored in the oracle — the cap is part of the operator spec)
    and doubles as the skew bound.
    """
    sh = shingle_table(df, id_col, text_col, shingle_n)
    # document frequency as a count-over-window: ONE shuffle on the
    # shingle (vs groupBy + join = two); _df doubles as the global
    # rarest-first order key for prefix selection below
    w_df = Window.partitionBy("shingle")
    sh = sh.withColumn("_df", F.count("*").over(w_df))
    if max_shingle_df:
        sh = sh.filter(F.col("_df") <= max_shingle_df)
    # One shuffle by doc id feeds BOTH derived tables (Catalyst reuses
    # the exchange): the rarest-first prefix rows and the per-doc
    # shingle array used for exact verification.
    w_doc = Window.partitionBy(id_col)
    w_rank = w_doc.orderBy(F.col("_df").asc(), F.col("shingle").asc())
    ranked = sh.select(
        F.col(id_col),
        "shingle",
        F.count("*").over(w_doc).alias("_n"),
        F.row_number().over(w_rank).alias("_rk"),
    )
    # ranked feeds two consumers; persist so the explode + df-window +
    # rank work runs once (at 100 TB: write it to parquet instead).
    # Cache OWNERSHIP: the returned frame stays lazy, so this operator
    # cannot safely unpersist — callers running many tables per session
    # release operator caches between jobs (spark.catalog.clearCache(),
    # as bench.py and the driver do) or use the parquet feature table.
    ranked.persist()
    prefix = ranked.filter(
        F.col("_rk") <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    ).select(id_col, "shingle", "_n", "_rk")
    doc_sets = ranked.groupBy(id_col).agg(
        F.collect_list("shingle").alias("_shs")
    )

    pa = prefix.select(
        F.col(id_col).alias("id_a"),
        "shingle",
        F.col("_n").alias("n_a"),
        F.col("_rk").alias("_rk_a"),
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"),
        "shingle",
        F.col("_n").alias("n_b"),
        F.col("_rk").alias("_rk_b"),
    )
    # pair overlap bound for J >= t: common >= t/(1+t) * (n_a + n_b)
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
    )
    cand = (
        pa.join(pb, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t forces t*n_a <= n_b <= n_a/t
            & (F.col("n_b") >= F.ceil(F.lit(threshold) * F.col("n_a")))
            & (F.col("n_b") <= F.floor(F.col("n_a") / F.lit(threshold)))
            # positional filter: remaining-suffix budget must cover alpha
            & (
                F.lit(1)
                + F.least(
                    F.col("n_a") - F.col("_rk_a"), F.col("n_b") - F.col("_rk_b")
                )
                >= alpha
            )
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    # exact verification: overlap of the two docs' shingle arrays,
    # computed per candidate pair without re-exploding
    da = doc_sets.select(F.col(id_col).alias("id_a"), F.col("_shs").alias("_shs_a"))
    db = doc_sets.select(F.col(id_col).alias("id_b"), F.col("_shs").alias("_shs_b"))
    out = (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("_shs_a", "_shs_b")).cast("long").alias("common"),
        )
        .withColumn(
            "jaccard",
            F.floor(
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common"))
                * 10000
            )
            / 10000,
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")


def minhash_feature_table(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """Per-doc ``(id, sh, sig)``: distinct shingles + MinHash signature,
    computed in ONE pass over the text and **persisted**.

    The md5-per-(seed × shingle) work dominates MinHash cost; the LSH
    pipeline reads this table three times (both sides of the candidate
    self-join + verification), so materializing it once turns an
    O(3 × hash-work) plan into O(1 × hash-work) + cheap joins.  At
    100 TB the same role is played by writing the signature table to
    parquet once and reusing it across dedup runs — persist() is the
    in-session analog.
    """
    # small parquet inputs arrive as ONE split; the signature projection
    # is the expensive part, so spread it across the cluster first (a
    # round-robin repartition here costs one tiny shuffle and buys full
    # parallelism for the md5 work — at real scale the input already
    # has enough splits and AQE keeps this a no-op-ish exchange).
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    sh_expr = distinct_shingles(text_col, shingle_n).alias("sh")
    base = df.select(F.col(id_col), sh_expr)
    feat = base.select(
        id_col,
        "sh",
        F.expr(minhash_sig_from_shingles("sh", num_hashes)).alias("sig"),
    )
    feat.persist()
    return feat


def banded_signatures(
    feat: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """``(id, band, bucket)`` LSH bucket rows from a signature table:
    the signature is cut into ``bands`` equal row-groups and each
    group's values are md5-folded into a bucket key.  One narrow
    explode — docs × bands rows, no shuffle.  This IS the dedup index:
    at 100 TB it is written to parquet partitioned by ``(band,
    bucket-prefix)`` once and joined against by every later batch."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    return feat.select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"named_struct('band', b, 'bucket', "
                f"md5(concat_ws('|', slice(sig, b * {rows_per_band} + 1, {rows_per_band})))))"
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    feat: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from banded MinHash: docs agreeing on ALL rows
    of at least one band.  Output ``(id_a, id_b)`` distinct, a < b.

    ``num_hashes`` must divide into ``bands`` equal rows; bucket key =
    md5 of the band's joined signature values.  Shuffle = docs × bands
    rows keyed by (band, bucket) — linear, never quadratic.
    """
    if feat is None:
        feat = minhash_feature_table(df, id_col, text_col, num_hashes, shingle_n)
    banded = banded_signatures(feat, id_col, num_hashes, bands)

    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    feat: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard-verified.

    Candidates from :func:`minhash_lsh_candidates` over the persisted
    feature table; verification joins the two docs' distinct-shingle
    arrays back in (broadcast-friendly: candidates ≪ corpus) and
    computes exact Jaccard via ``array_intersect``.
    Output ``(id_a, id_b, jaccard)``.

    ``feat`` lets a composition (e.g. the CCNet pipeline) pass a shared
    :func:`minhash_feature_table` so the shingle tokenization is paid
    once across every consumer instead of once per stage.
    """
    if feat is None:
        feat = minhash_feature_table(df, id_col, text_col, num_hashes, shingle_n)
    cand = minhash_lsh_candidates(
        df, id_col, text_col, num_hashes, bands, shingle_n, feat=feat
    )
    da = feat.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    db = feat.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn(
            "jaccard",
            F.floor(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / (
                    F.size("sh_a")
                    + F.size("sh_b")
                    - F.size(F.array_intersect("sh_a", "sh_b"))
                )
                * 10000
            )
            / 10000,
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_minhash_pairs(
    base: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs touching a NEW batch only — the incremental form
    of :func:`minhash_lsh_pairs` for a growing corpus.

    A 100 TB corpus is never re-deduped from scratch when a day's data
    lands: the base corpus's banded signature table
    (:func:`banded_signatures`) is a persisted index, and the new
    batch is joined against it.  Candidate generation is

    * ``batch × base`` — equi-join of the batch's bucket rows against
      the index (shuffle = O(batch-bands + matching index buckets),
      never O(corpus²)), plus
    * ``batch × batch`` — the usual self-join within the batch;

    ``base × base`` pairs are never generated — that work was done
    when those docs were ingested.  Verification is exact Jaccard on
    the candidates' distinct-shingle arrays, identical to the full
    operator, so the result equals ``minhash_lsh_pairs(base ∪ batch)``
    minus its base×base rows (property-tested).

    Output: ``(id_a, id_b, jaccard, pair_kind)`` with ``id_a < id_b``
    and ``pair_kind ∈ {'base-batch', 'batch-batch'}``.
    """
    feat_base = minhash_feature_table(base, id_col, text_col, num_hashes, shingle_n)
    feat_batch = minhash_feature_table(batch, id_col, text_col, num_hashes, shingle_n)
    banded_base = banded_signatures(feat_base, id_col, num_hashes, bands)
    banded_batch = banded_signatures(feat_batch, id_col, num_hashes, bands)

    nb = banded_batch.select(
        F.col(id_col).alias("_new_id"), "band", "bucket"
    )
    cross = nb.join(
        banded_base.select(F.col(id_col).alias("_old_id"), "band", "bucket"),
        ["band", "bucket"],
    ).filter(
        # an at-least-once redelivery can put the SAME doc id in both
        # base and batch; without this a bogus self-pair (id_a == id_b,
        # jaccard 1.0) would pass any threshold
        F.col("_new_id") != F.col("_old_id")
    ).select(
        F.least("_new_id", "_old_id").alias("id_a"),
        F.greatest("_new_id", "_old_id").alias("id_b"),
        F.lit("base-batch").alias("pair_kind"),
    )
    within = (
        nb.join(
            banded_batch.select(F.col(id_col).alias("_new_id2"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("_new_id") < F.col("_new_id2"))
        .select(
            F.col("_new_id").alias("id_a"),
            F.col("_new_id2").alias("id_b"),
            F.lit("batch-batch").alias("pair_kind"),
        )
    )
    cand = cross.unionByName(within).dropDuplicates(["id_a", "id_b"])

    # doc ids present in BOTH frames (redelivery) must contribute one
    # shingle row each, or every candidate pair touching them verifies
    # twice and duplicates output rows
    all_feat = feat_base.unionByName(
        feat_batch.join(
            feat_base.select(id_col).distinct(), id_col, "left_anti"
        )
    )
    da = all_feat.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    db = all_feat.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn(
            "jaccard",
            F.floor(
                inter.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - inter)
                * 10000
            )
            / 10000,
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard", "pair_kind")
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_bits: int = 16
) -> DataFrame:
    """Per-doc SimHash bit-string signature (see
    ``functions.text.simhash_bits``)."""
    return df.select(
        F.col(id_col), simhash_bits(text_col, num_bits).alias("simhash")
    )


def prefix_edit_distance_pairs(
    d: DataFrame,
    tau: int = 3,
    bucket_radius: int = 1,
) -> DataFrame:
    """All (doc_id_a < doc_id_b) pairs, same ``lang``, length-bucket
    distance <= ``bucket_radius``, prefix Levenshtein <= ``tau``.

    Input ``d``: ``(doc_id, lang, prefix, b)`` — prefix is the compared
    string, ``b`` the length bucket.

    Candidates come from a PassJoin segment index (Li et al., VLDB'11):
    partition each prefix into ``tau+1`` near-equal segments; if
    ``ed(pa, pb) <= tau`` then at least one segment of either doc
    appears VERBATIM in the other (pigeonhole over tau+1 segments /
    tau edits), start-shifted by at most ``tau`` (edits before it) +
    ``|La-Lb|`` (partition drift) ``<= 2*tau``.  The equi-join key is a
    substring whose cardinality grows WITH the corpus, so buckets stay
    tiny at any scale — unlike a length-bucket-only join, whose fixed
    key domain goes quadratic as the corpus grows.

    The pigeonhole argument needs all ``tau+1`` segments non-empty,
    i.e. ``length(prefix) >= tau+1``.  Shorter prefixes ("short" docs)
    are handled exactly by two side channels: (short x short) pairs by
    direct join (the set is tiny in any real corpus — and when it
    isn't, every short pair is within distance tau anyway, so the
    output itself is quadratic); (short-lower-id x seg-capable) pairs
    by running the segment side on the HIGHER id against the short
    doc's windows (the lemma is direction-free).
    """
    seg_n = tau + 1
    pos = f"CAST(floor(i * length(prefix) / {seg_n}) AS INT)"
    pos1 = f"CAST(floor((i + 1) * length(prefix) / {seg_n}) AS INT)"
    capable = d.filter(F.length("prefix") >= seg_n)
    shorts = d.filter(F.length("prefix") < seg_n)
    # The join key (lang, i, segment-string) is carried as ONE
    # xxhash64 long: the windows side is ~140 rows/doc, and shuffling/
    # sorting 40-byte string keys was the entry's hot spot (measured
    # 6.5 s -> 4.7 s at sf1 with the hash).  Collisions are harmless:
    # equal strings always hash equal (no false negatives), and a
    # colliding candidate pair just flows into the exact Levenshtein
    # verify like any other candidate.
    segs = capable.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {seg_n - 1}), i -> "
                f"struct(i AS i, substring(prefix, 1 + {pos}, {pos1} - {pos}) AS w))"
            )
        ).alias("sw"),
        F.col("lang"),
    ).select("doc_id", F.xxhash64("lang", F.col("sw.i"), F.col("sw.w")).alias("k"))

    def windows(frame: DataFrame) -> DataFrame:
        # every start within 2*tau of the doc's own segment-i boundary,
        # every length a partner prefix (|len diff| <= tau) could give
        # segment i; truncated end-of-string windows drop out via the
        # length equality filter.
        lo_len = f"greatest(1, CAST(floor((length(prefix) - {tau}) / {seg_n}) AS INT))"
        hi_len = f"CAST(ceil((length(prefix) + {tau}) / {seg_n}) AS INT)"
        return frame.select(
            F.col("doc_id").alias("doc_id_w"),
            F.col("lang").alias("lang_w"),
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(0, {seg_n - 1}), i -> "
                    f"flatten(transform(sequence(-{2 * tau}, {2 * tau}), dd -> "
                    f"transform(sequence({lo_len}, {hi_len}), l -> "
                    f"struct(i AS i, l AS l, "
                    f"substring(prefix, greatest(1, 1 + {pos} + dd), l) AS w))))))"
                )
            ).alias("sw"),
        ).filter(F.length("sw.w") == F.col("sw.l")).select(
            "doc_id_w",
            F.xxhash64("lang_w", F.col("sw.i"), F.col("sw.w")).alias("k"),
        )

    def pair(lo_col, hi_col):
        return [lo_col.alias("id_lo"), hi_col.alias("id_hi")]

    w_all = windows(d)
    cand_main = segs.join(w_all, "k").filter(
        F.col("doc_id") < F.col("doc_id_w")
    ).select(*pair(F.col("doc_id"), F.col("doc_id_w")))
    w_short = windows(shorts)
    cand_rev = segs.join(w_short, "k").filter(
        F.col("doc_id") > F.col("doc_id_w")
    ).select(*pair(F.col("doc_id_w"), F.col("doc_id")))
    sa = shorts.alias("sa")
    sb = shorts.alias("sb")
    cand_short = sa.join(
        sb,
        (F.col("sa.lang") == F.col("sb.lang"))
        & (F.col("sa.doc_id") < F.col("sb.doc_id")),
    ).select(*pair(F.col("sa.doc_id"), F.col("sb.doc_id")))

    cand = (
        cand_main.unionByName(cand_rev)
        .unionByName(cand_short)
        .dropDuplicates(["id_lo", "id_hi"])
    )
    da = d.select(
        F.col("doc_id").alias("id_lo"),
        F.col("lang"),
        F.col("prefix").alias("prefix_a"),
        F.col("b").alias("b_a"),
    )
    db = d.select(
        F.col("doc_id").alias("id_hi"),
        F.col("prefix").alias("prefix_b"),
        F.col("b").alias("b_b"),
    )
    return (
        cand.join(da, "id_lo")
        .join(db, "id_hi")
        .filter(F.abs(F.col("b_a") - F.col("b_b")) <= bucket_radius)
        .withColumn(
            # 3-arg levenshtein: banded DP, O(len * tau) per pair with
            # early exit; returns -1 above the threshold
            "edit_distance",
            F.levenshtein("prefix_a", "prefix_b", tau).cast("bigint"),
        )
        .filter(F.col("edit_distance") >= 0)
        .select(
            F.col("id_lo").alias("doc_id_a"),
            F.col("id_hi").alias("doc_id_b"),
            "lang",
            "edit_distance",
        )
    )


def connected_components(
    pairs: DataFrame, max_iterations: int = 20, ledger=None
) -> DataFrame:
    """Distributed connected components over an undirected edge list
    ``(id_a, id_b)``; output ``(node, label)`` with ``label`` = the
    smallest member id of the node's component.

    Min-label propagation **with adaptive pointer jumping** (path
    doubling): every round takes the min of the neighbors' labels —
    one shuffled join+groupBy over the edges — and, from round 3 on,
    also follows the label graph one hop (``label ← label[label]``) —
    one self-join over the much smaller node→label table.  The jump
    doubles the distance information travels per round, so deep
    components converge in O(log diameter) rounds instead of
    O(diameter) — a 1000-deep duplicate chain closes in ~10 rounds,
    where plain propagation would exhaust any sane round budget.  The
    jump is deferred because near-dup components are usually dense
    and shallow (identical-doc clusters close in ≤2 plain rounds);
    engaging it only when round 2 hasn't converged keeps the common
    case at baseline cost while pathological chains cost rounds, not
    correctness.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iterations`` rounds, so a component can never silently
    split.  Lineage is cut each round (``localCheckpoint``) so plans
    stay flat; at cluster scale use reliable ``checkpoint`` to
    survive executor loss.

    Convergence detection is a label checksum, not a join: labels only
    ever decrease, so ``sum(label)`` (exact DECIMAL(38,0) accumulation,
    overflow-free) is strictly decreasing until the fixed point — one
    scan of the already-checkpointed table per round instead of a
    shuffled old-vs-new join.

    ``ledger`` (a :class:`sinks.ledger.Ledger`) records round count and
    the per-round checksum deltas on completion AND on the
    non-convergence raise, so unattended runs surface a stuck
    propagation in the run ledger instead of only in a stack trace.
    """
    edges = pairs.select("id_a", "id_b").union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    edges.persist()

    def _checksum(lbls: DataFrame):
        return lbls.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    labels = (
        edges.groupBy(F.col("id_a").alias("node"))
        .agg(F.min("id_b").alias("nbr_min"))
        .select("node", F.least("node", "nbr_min").alias("label"))
        .localCheckpoint()
    )
    prev_sum = _checksum(labels)
    deltas: list = []
    for round_idx in range(max_iterations):
        prop = (
            edges.join(labels.withColumnRenamed("node", "id_b"), "id_b")
            .groupBy(F.col("id_a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(prop, "node", "left").select(
            "node",
            F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
        )
        if round_idx >= 2:
            # pointer jump: label <- label[label]. The label table is
            # one row per node (smaller than the edge list), and labels
            # only ever decrease, so following the chain is always safe.
            parent = stepped.select(
                F.col("node").alias("label"), F.col("label").alias("_plabel")
            )
            stepped = stepped.join(parent, "label", "left").select(
                "node",
                F.least("label", F.coalesce("_plabel", "label")).alias("label"),
            )
        new_labels = stepped.localCheckpoint()
        cur_sum = _checksum(new_labels)
        labels = new_labels
        deltas.append(prev_sum - cur_sum)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        edges.unpersist()
        if ledger is not None:
            ledger.record_iterations(
                "connected_components",
                rounds=max_iterations,
                max_rounds=max_iterations,
                converged=False,
                deltas=deltas,
            )
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "rounds (label checksum still decreasing); raise "
            "max_iterations rather than accept split components"
        )
    edges.unpersist()
    if ledger is not None:
        ledger.record_iterations(
            "connected_components",
            rounds=len(deltas),
            max_rounds=max_iterations,
            converged=True,
            deltas=deltas,
        )
    return labels


def duplicate_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_iterations: int = 20,
) -> DataFrame:
    """Transitive duplicate clusters: :func:`connected_components` over
    the verified MinHash-LSH near-dup pair graph, ``cluster_id`` =
    smallest member id.  Output ``(id, cluster_id)`` for every doc in
    ≥1 pair.

    The keep-lowest policy of :func:`drop_near_duplicates` is the
    1-hop greedy version; clusters give the full transitive groups
    (what you want for "keep one per near-dup *family*" curation).
    """
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n, threshold
    ).select("id_a", "id_b")
    labels = connected_components(pairs, max_iterations=max_iterations)
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def drop_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    feat: DataFrame | None = None,
) -> DataFrame:
    """Greedy near-dup removal: keep the lowest-id member of every
    near-dup pair (a doc is dropped iff it appears as the HIGHER id of
    any verified pair — deterministic, one pass over the pair list,
    no iterative connected components needed for the keep-first
    policy).  ``feat`` = optional shared feature table (see
    :func:`minhash_lsh_pairs`)."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n, threshold,
        feat=feat,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def shared_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    hash_grams: bool = False,
) -> DataFrame:
    """Cross-document exact n-gram span dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — the
    exact-substring pass, discretized to token n-grams).

    For every document with at least ``n`` whitespace tokens, counts how
    many of its token n-gram positions carry an n-gram that also occurs
    in at least one OTHER document.  Output per doc: total n-gram
    positions, shared positions, and the shared ratio — the signal used
    to drop or trim documents dominated by boilerplate spans.

    Scale shape: the n-gram table is O(total tokens) rows, and it
    crosses the wire exactly ONCE — an explicit ``repartition(gram)``
    hash-clusters the positions, after which Catalyst runs the whole
    chain shuffle-free within each partition: ``groupBy(gram, id)``
    (HashPartitioning(gram) satisfies the (gram, id) clustering)
    collapses repeated positions to a count per (gram, doc), and the
    document frequency is a ``count() OVER (PARTITION BY gram)``
    window that needs only the in-partition sort.  Only the final
    per-doc rollup shuffles again — the already-collapsed (gram, doc)
    table keyed by id.  The previous formulation (countDistinct +
    equi-join back on the gram string) moved the full O(total tokens)
    string table through three shuffles and was the repo's worst sf10
    ratio (5.4x, 27.7 s); this plan is bit-identical and ~2.4x faster
    warm at sf10 (11.6 s; SURVEY §16).  Skewed grams (boilerplate in
    millions of docs) concentrate a partition, but carry only a
    per-doc count each — no quadratic candidate set, no doc self-join.
    At 100 TB you would group on ``xxhash64(gram)`` (collision odds
    ~N²/2⁶⁴) to shrink the shuffle/sort key; the string key is the
    default so the DuckDB oracle can reproduce the result bit-for-bit,
    and ``hash_grams=True`` IS that scale path — the 8-byte key is
    VARIADIC ``xxhash64(tok_i, …, tok_{{i+n-1}})`` over the window's
    tokens directly (per-value seed chaining preserves token
    boundaries, so no separator string is ever built): no per-position
    ~40-char concat allocation at all, the shuffle moves fixed-width
    BIGINTs, and the output is identical whenever no 64-bit collision
    occurs (expected collisions at N grams ≈ N²/2⁶⁵ — ~10⁻⁶ at a
    billion grams; the hashed entry's value oracle is therefore the
    SAME string-keyed SQL).  Measured at the sf10 corpus (15M gram
    positions, r11 A/B): variadic-token hashing 4.8 s vs 11.1 s for
    ``xxhash64(array_join(slice(...)))`` — the concat allocation was
    over half the operator's end-to-end cost.
    """
    if hash_grams:
        args = ", ".join(f"element_at(_t, i + {j})" for j in range(n))
        gram_expr = f"xxhash64({args})"
    else:
        gram_expr = f"array_join(slice(_t, i, {n}), ' ')"
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_t")
    ).filter(F.size("_t") >= n)
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(_t) - {n - 1}),"
                f" i -> {gram_expr})"
            )
        ).alias("gram"),
    )
    per_doc_gram = (
        grams.repartition("gram")
        .groupBy("gram", id_col)
        .agg(F.count("*").alias("_cnt"))
    )
    doc_freq_w = Window.partitionBy("gram")
    flagged = per_doc_gram.withColumn(
        "_nd", F.count("*").over(doc_freq_w)
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.sum("_cnt").cast("bigint").alias("n_ngrams"),
            F.sum(F.when(F.col("_nd") >= 2, F.col("_cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
        )
        .withColumn(
            "shared_ratio", F.round(F.col("n_shared") / F.col("n_ngrams"), 4)
        )
    )
