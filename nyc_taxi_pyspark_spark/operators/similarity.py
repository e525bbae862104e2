"""Embedding similarity search (north-star extension): the exact cosine
expression behind the catalog's brute-force top-k, plus hyperplane-LSH
buckets and multi-probe ANN as the approximate scale path.

Scale design:
  - Dot products / norms are row-level array expressions (zip_with +
    aggregate) — JVM-side, no Python, no shuffle. Accumulation is
    micro-quantized int64 (see _SCALE below) so the value is
    association-order-independent and bit-identical on every engine.
  - Brute-force query-vs-corpus top-k is a scan + TakeOrderedAndProject:
    O(n·d) work, no shuffle, perfectly parallel — the right baseline even at
    100 TB when k is small.
  - The LSH variant prunes the scan to one hash bucket. Hyperplane signs are
    derived from md5 parity (deterministic, engine-portable, no RNG state),
    so the same buckets come out of Spark, DuckDB, or plain Python.
  - All-pairs similarity joins should LSH-bucket first (join on bucket),
    never crossJoin; ``bucket_join_candidates`` provides that shape.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DIM = 64
N_PLANES = 8

# Order-independent float accumulation via micro-quantization: each term is
# floor(x·1e14) — a bit-identical integer on every engine (floor of the same
# IEEE double) — summed in int64 (exact, associative), then scaled back.
# Decimal casts are NOT used here: casting an arbitrary irrational double to
# decimal rounds HALF_UP on the shortest repr in Java but binary-nearest in
# DuckDB, which diverges ~1e-3 per term at scale 14 (observed). floor has no
# rounding mode to disagree on. Quantization bias ≤ dim·1e-14 ≈ 6e-13.
_SCALE = 1e14


def hyperplane_signs(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign[j][i] = parity of the first hex
    digit of md5('<j>|<i>'). Reproducible in any engine or language — the
    Python, Spark, and DuckDB variants all agree by construction."""
    return [
        [
            1 if int(hashlib.md5(f"{j}|{i}".encode()).hexdigest()[0], 16) % 2 else -1
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def dsum_py(terms: list[float]) -> float:
    """Python twin of :func:`_dsum_terms` — bit-identical by construction:
    float64 products, ``math.floor(t * 1e14)`` (same IEEE ops as Spark's
    FLOOR on double), exact int accumulation, double divide at the end."""
    import math

    return float(sum(math.floor(t * _SCALE) for t in terms)) / _SCALE


def l2_norm_py(vals: list[float]) -> float:
    """Python twin of :func:`l2_norm` (driver-side query-parameter path)."""
    import math

    return math.sqrt(dsum_py([x * x for x in vals]))


def lsh_bucket_py(
    vals: list[float], planes: list[list[int]] | None = None
) -> str:
    """Python twin of :func:`lsh_bucket` — used to turn a query vector's
    bucket into a plan-time literal (at scale: static partition pruning)."""
    import math

    planes = planes or hyperplane_signs()
    bits = []
    for p in planes:
        acc = sum(math.floor((x * s) * _SCALE) for x, s in zip(vals, p))
        bits.append("1" if acc > 0 else "0")
    return "".join(bits)


_TERM_LIM = float(2**63 - 1024)  # per-term int64 headroom


def _dsum_terms(terms: Column) -> Column:
    """Order-independent sum of an array of doubles via integer folding
    (micro-quantized at 1e-14; see _SCALE note above).

    Non-finite contract (round-11 dirty-parity audit): a NaN term already
    folded to 0 (Spark floor(NaN)=0), but an ±Inf term floored to
    ±Long.MAX and ABORTED the whole job on the next ANSI add — one broken
    encoder component killing every similarity query over the corpus. The
    between-guard maps ANY term outside int64 range (NaN, ±Inf, or a
    physically absurd |x|>2^63/1e14 component) to a 0 contribution, which
    is bit-identical to the oracle twin's ``SUM(TRY_CAST(...))`` skipping
    the NULL (catalog.similarity._duck_acc)."""
    q = lambda x: x * F.lit(_SCALE)  # noqa: E731
    return F.aggregate(
        terms,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc
        + F.when(q(x).between(-_TERM_LIM, _TERM_LIM), F.floor(q(x)))
        .otherwise(F.lit(0))
        .cast("bigint"),
        lambda acc: acc.cast("double") / F.lit(_SCALE),
    )


def dot(a: Column, b: Column) -> Column:
    return _dsum_terms(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        _dsum_terms(F.transform(a, lambda x: x.cast("double") * x.cast("double")))
    )


def safe_div(num: Column, den: Column) -> Column:
    """NULL instead of ANSI DIVIDE_BY_ZERO on a degenerate denominator.
    A zero-norm vector has no defined cosine; under Spark 4's default
    ANSI mode a bare division would abort the whole job on the first
    zero vector a 100 TB corpus inevitably contains. NULL is the honest
    answer (and DuckDB's native float-division result), and in a DESC
    ordering it sorts NULLS LAST, so degenerate candidates can never
    displace a genuine top-k hit (tests/test_degenerate_rows_sweep.py
    drives the whole catalog over zero vectors to pin this)."""
    from nyc_taxi_pyspark_spark.functions.exact import sdiv

    return sdiv(num, den)


def cosine(a: Column, b: Column) -> Column:
    return safe_div(dot(a, b), l2_norm(a) * l2_norm(b))


def finite_vec(vec: Column) -> Column:
    """Indexability predicate: every component finite. A vector with a
    NaN/Inf component (a broken encoder) cannot serve as a centroid, PQ
    seed, or k-means seed — its distances are undefined and the Python
    parameter twins (dsum_py et al.) would crash on math.floor(nan). As a
    CORPUS row it may stay: the JVM floor-fold maps it to NULL-or-garbage
    scores that sort last (safe_div contract), but parameter collections
    must filter on this predicate (degenerate-row sweep pins it)."""
    x = lambda c: c.cast("double")  # noqa: E731
    return ~F.exists(
        vec,
        lambda c: F.isnan(x(c)) | (F.abs(x(c)) == F.lit(float("inf"))),
    )


def signed_projection(vec: Column, signs: list[int]) -> Column:
    """Dot product against a ±1 hyperplane as decimal-exact signed sum."""
    terms = F.zip_with(
        vec,
        F.array(*[F.lit(s) for s in signs]),
        lambda x, s: x.cast("double") * s.cast("double"),
    )
    return _dsum_terms(terms)


def lsh_bucket(vec: Column, planes: list[list[int]] | None = None) -> Column:
    """Bit-string bucket id: one bit per hyperplane, 1 iff projection > 0."""
    planes = planes or hyperplane_signs()
    bits = [
        F.when(signed_projection(vec, p) > 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def cosine_sim_expr(vec_col: str, query_vec: Column, query_norm: Column | None) -> Column:
    """Cosine vs the query vector; ``query_norm`` (precomputed once on the
    broadcast side) avoids re-deriving the same 64-term norm fold per corpus
    row — identical bits, one-third less per-row work."""
    qn = query_norm if query_norm is not None else l2_norm(query_vec)
    return safe_div(dot(F.col(vec_col), query_vec), l2_norm(F.col(vec_col)) * qn)


def bucket_join_candidates(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """All-pairs candidate generation by LSH bucket equi-join (a < b) — the
    scalable alternative to crossJoin for near-dup embedding search.

    Each side carries its precomputed L2 norm (``nrm_a``/``nrm_b``): norms
    are computed once per vector before the join instead of once per
    candidate pair after it — same bits, O(n) instead of O(candidates)
    norm folds."""
    b = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(F.col(vec_col)).alias("bucket"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    left = b.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("bucket"),
        F.col("nrm").alias("nrm_a"),
    )
    right = b.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("bucket"),
        F.col("nrm").alias("nrm_b"),
    )
    return left.join(right, "bucket").filter(F.col("id_a") < F.col("id_b"))


def hamming_leq1(a: Column, b: Column, n_bits: int = N_PLANES) -> Column:
    """Bit-string Hamming distance ≤ 1, as a row-level expression."""
    diffs = [
        F.when(
            F.substring(a, j + 1, 1) != F.substring(b, j + 1, 1), F.lit(1)
        ).otherwise(F.lit(0))
        for j in range(n_bits)
    ]
    total = diffs[0]
    for d in diffs[1:]:
        total = total + d
    return total <= 1


def ann_topk_multiprobe(
    corpus: DataFrame,
    query_vec: Column,
    query_bucket: Column,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_norm: Column | None = None,
) -> DataFrame:
    """Multi-probe ANN: scan the query's bucket plus all Hamming-1 neighbor
    buckets (9 of 256 here) — the standard recall/cost dial for hyperplane
    LSH. At scale with `bucket` as a partition column this is a 9-partition
    IN-list prune instead of a full scan."""
    bucketed = corpus.withColumn("bucket", lsh_bucket(F.col(vec_col)))
    sim = cosine_sim_expr(vec_col, query_vec, query_norm).alias("cosine_sim")
    return (
        bucketed.filter(hamming_leq1(F.col("bucket"), query_bucket))
        .select(F.col(id_col), sim)
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def probe_buckets(bucket: Column, n_bits: int = N_PLANES) -> Column:
    """Array of the bucket itself plus its ``n_bits`` Hamming-1 neighbors —
    the multiprobe set, as a row-level expression over the bit-string."""
    def flip(j: int) -> Column:
        bit = F.substring(bucket, j + 1, 1)
        return F.concat(
            F.substring(bucket, 1, j),
            F.when(bit == "1", F.lit("0")).otherwise(F.lit("1")),
            F.substring(bucket, j + 2, n_bits - j - 1),
        )

    return F.array(bucket, *[flip(j) for j in range(n_bits)])


def ann_recall_at_k(
    bucketed: DataFrame,
    n_queries: int = 20,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch recall@k of multiprobe hyperplane-LSH ANN against brute-force
    cosine ground truth, over the first ``n_queries`` corpus vectors used
    as queries.

    Shape (both sides are one pass over the corpus):
      - exact: corpus × broadcast(queries) — a deliberate, bounded
        O(n_queries · n) nested-loop that IS the ground-truth definition;
        at 100 TB this is the recurring eval job you run on a sample, with
        the query panel always broadcast-sized.
      - ANN: each query explodes into its 9 multiprobe buckets
        (:func:`probe_buckets`) and equi-joins the corpus on ``bucket`` —
        the same partition-prune shape the production ANN path uses, so the
        measured recall is the production recall.
    Both sides rank with the same deterministic tie-break (sim desc, id
    asc), then recall = |ANN∩exact| / k per query.

    Returns ONE row: (n_queries, k, mean_recall_at_k, min_recall_at_k).
    """
    from pyspark.sql import Window

    queries = F.broadcast(
        bucketed.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    sim = (
        safe_div(dot(F.col(vec_col), F.col("q_vec")), F.col("nrm") * F.col("q_nrm"))
    ).alias("sim")
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    exact = (
        bucketed.join(queries, how="cross")
        .select("q_id", id_col, sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col)
    )
    probes = queries.select(
        "q_id",
        "q_vec",
        "q_nrm",
        F.explode(probe_buckets(F.col("q_bucket"))).alias("bucket"),
    )
    ann = (
        bucketed.join(F.broadcast(probes), "bucket")
        .select("q_id", id_col, sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col)
    )
    # LEFT join (not semi): every query keeps its k exact rows, so a query
    # with zero ANN overlap contributes recall 0 instead of vanishing.
    # Recall stays INTEGER (hit counts) until two final single divisions of
    # exact ints — no float AVG (order-dependent) and no ROUND (engine-
    # divergent half-handling), so the result is bit-portable and the
    # DuckDB oracle twin hash-matches (catalog embed_ann_recall).
    per_query = (
        exact.join(ann.withColumn("hit", F.lit(1)), ["q_id", id_col], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("hits"))
    )
    return per_query.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        (
            F.sum("hits").cast("double") / (F.count(F.lit(1)) * F.lit(k))
        ).alias("mean_recall_at_k"),
        (F.min("hits").cast("double") / F.lit(k)).alias("min_recall_at_k"),
    )


def mrl_recall_panel(
    df: DataFrame,
    n_queries: int = 20,
    k: int = 10,
    shortlist: int = 50,
    mrl_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the Matryoshka two-stage path (``mrl_dim``-prefix coarse
    shortlist → full-dim exact re-rank) against brute-force full-dim ground
    truth, over the first ``n_queries`` corpus vectors as the query panel.

    ``df`` needs ``id_col``, ``vec_col``, and a precomputed ``nrm`` (full
    L2 norm). Both sides use the production tie-break (sim desc, id asc).
    Recall is a property of the EMBEDDING SPECTRUM, not of the operator:
    on MRL-trained embeddings (energy concentrated in the prefix) the
    prefix ranking approximates the full ranking and recall is high; on
    isotropic noise the prefix carries 1/4 of the information and recall
    is honestly low (tests/test_text_similarity.py pins both regimes on
    synthetic spectra).

    Returns ONE row:
    (n_queries, k, shortlist, mean_recall_at_k, min_recall_at_k).
    """
    from pyspark.sql import Window

    queries = F.broadcast(
        df.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    joined = df.join(queries, how="cross")
    full_sim = (
        safe_div(dot(F.col(vec_col), F.col("q_vec")), F.col("nrm") * F.col("q_nrm"))
    ).alias("sim")
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    exact = (
        joined.select("q_id", id_col, full_sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col)
    )
    e_pre = F.slice(F.col(vec_col), 1, mrl_dim)
    q_pre = F.slice(F.col("q_vec"), 1, mrl_dim)
    coarse_sim = safe_div(dot(e_pre, q_pre), l2_norm(e_pre) * l2_norm(q_pre)).alias(
        "sim"
    )
    short = (
        joined.select(
            "q_id", id_col, vec_col, "nrm", "q_vec", "q_nrm", coarse_sim
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= shortlist)
        .drop("sim", "rk")
    )
    mrl = (
        short.select("q_id", id_col, full_sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col)
    )
    # integer hit counts + single exact-int divisions: see ann_recall_at_k
    per_q = (
        exact.join(mrl.withColumn("hit", F.lit(1)), ["q_id", id_col], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("hits"))
    )
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        F.lit(shortlist).cast("long").alias("shortlist"),
        (
            F.sum("hits").cast("double") / (F.count(F.lit(1)) * F.lit(k))
        ).alias("mean_recall_at_k"),
        (F.min("hits").cast("double") / F.lit(k)).alias("min_recall_at_k"),
    )


def hyperplane_signs_salted(
    salt: str, n_planes: int = N_PLANES, dim: int = DIM
) -> list[list[int]]:
    """Independent hyperplane table: sign[j][i] = md5('<salt>|<j>|<i>')
    parity. Each salt is a fresh deterministic table — the L-tables recall
    dial classic LSH uses when one table's collision probability is too low
    for near-threshold neighbors."""
    return [
        [
            1
            if int(hashlib.md5(f"{salt}|{j}|{i}".encode()).hexdigest()[0], 16) % 2
            else -1
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def multi_table_buckets(vec: Column, n_tables: int) -> Column:
    """Array of ``n_tables`` independent LSH bucket strings for one vector
    (tables salted 0..n_tables-1). At 100 TB these are write-time columns —
    the classic T-fold memory/recall trade of multi-table LSH."""
    return F.array(
        *[
            lsh_bucket(vec, hyperplane_signs_salted(str(t)))
            for t in range(n_tables)
        ]
    )


def ann_near_recall(
    corpus: DataFrame,
    n_tables: int = 12,
    rel_threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall of multi-table multiprobe LSH on its actual contract — the
    (r, c)-near-neighbor guarantee: of all ordered pairs with cosine ≥
    ``rel_threshold``, what fraction does the index retrieve?

    (Recall against unrestricted exact top-k is reported separately by
    ``embed_ann_recall`` and is information-theoretically capped for this
    corpus: ~90% of every top-10 is ~0.35-cosine noise spread uniformly
    over buckets, which no sublinear index can find. LSH's guarantee — and
    a dedup/retrieval pipeline's need — is the near pairs, measured here.)

    Shapes, both scan-shaped and shuffle-light:
      - ground truth: corpus × broadcast(corpus-as-queries) exact cosine —
        the bounded eval job (at 100 TB: a sampled query panel, identical
        plan);
      - index: every vector posexplodes into its ``n_tables`` (table,
        bucket) entries — the T-fold write-time layout — and the query side
        explodes into T × (1 + n_bits) Hamming-1 probes; candidates are the
        (table, bucket) equi-join, distinct on the pair.

    Returns ONE row: (n_queries, n_relevant_pairs, n_tables, recall) where
    recall is pair-level (micro) recall.
    """
    base = corpus.select(id_col, vec_col, "nrm")
    queries = F.broadcast(
        base.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    sim = (
        safe_div(dot(F.col(vec_col), F.col("q_vec")), F.col("nrm") * F.col("q_nrm"))
    ).alias("sim")
    ground = (
        base.join(queries, how="cross")
        .select("q_id", id_col, sim)
        .filter((F.col("sim") >= rel_threshold) & (F.col("q_id") != F.col(id_col)))
    )
    # Materialized once (localCheckpoint): this IS the write-time T-table
    # layout, and both the index side and the probe side read it — without
    # materialization the 12×8×64-literal projection executes twice.
    tables = base.select(
        id_col,
        F.posexplode(multi_table_buckets(F.col(vec_col), n_tables)).alias(
            "tbl", "bucket"
        ),
    ).localCheckpoint(eager=True)
    # Probes derive from the exploded (tbl, bucket) layout — cheap string
    # flips — the probe expansion never needs the vectors.
    qprobes = F.broadcast(
        tables.select(
            F.col(id_col).alias("q_id"),
            "tbl",
            F.explode(probe_buckets(F.col("bucket"))).alias("bucket"),
        )
    )
    candidates = (
        tables.join(qprobes, ["tbl", "bucket"])
        .select("q_id", id_col)
        .filter(F.col("q_id") != F.col(id_col))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    scored = ground.join(candidates, ["q_id", id_col], "left")
    # recall = one exact-int division (no ROUND: its half-handling is
    # engine-divergent) so the DuckDB oracle twin hash-matches
    return scored.agg(
        F.count_distinct("q_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_relevant_pairs"),
        F.lit(n_tables).cast("long").alias("n_tables"),
        (
            F.sum(F.coalesce("hit", F.lit(0))).cast("double") / F.count("*")
        ).alias("recall"),
    )


# ------------------------------------------------------------------ IVF cells

N_CENTROIDS = 8


def sq_dist(vec: Column, lit_vals: list[float]) -> Column:
    """Micro-quantized squared L2 distance to a literal centroid — the same
    int64-fold portability contract as dot()/l2_norm()."""
    cent = F.array(*[F.lit(v).cast("double") for v in lit_vals])
    return _dsum_terms(
        F.zip_with(
            vec,
            cent,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        )
    )


def ivf_assign(vec: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid cell id: argmin over squared distances with
    deterministic ties (smallest centroid id) via lexicographic struct min.

    IVF is the partition-pruning counterpart of hyperplane LSH: at scale
    `cell` is a write-time partition column and a query probes 1 (or
    n_probe) cells. Centroid choice here is training-free (fixed corpus
    ids) so every engine — and the DuckDB oracle — derives identical cells;
    swapping in MLlib KMeans centroids changes recall, not the plan shape.
    """
    structs = [
        F.struct(sq_dist(vec, vals).alias("d"), F.lit(cid).alias("cid"))
        for cid, vals in centroids
    ]
    return F.array_min(F.array(*structs))["cid"]


def ivf_cells_ranked(
    vec: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """All cell ids ordered by ascending squared distance (ties by cell id)
    — the multiprobe order for IVF: ``slice(ranked, 1, n_probe)`` is the
    probe set, and probing all cells degenerates to the exhaustive scan."""
    structs = [
        F.struct(sq_dist(vec, vals).alias("d"), F.lit(cid).alias("cid"))
        for cid, vals in centroids
    ]
    return F.transform(
        F.array_sort(F.array(*structs)), lambda s: s["cid"]
    )


def ivf_recall_at_k(
    ivf: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probes: tuple[int, ...] = (1, 2, 4, 8),
    n_queries: int = 20,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of IVF cell-pruned ANN vs brute-force cosine, one row per
    ``n_probe`` — the measured recall/cost curve of the n_probe dial.

    ``ivf`` is the (id, embedding, nrm, cell) layout. The exact side is the
    same bounded corpus × broadcast(queries) job as
    :func:`ann_recall_at_k`; the IVF side explodes each query's
    ``n_probe`` nearest cells (:func:`ivf_cells_ranked`) and equi-joins the
    corpus on ``cell`` — the partition-prune shape, so the measured recall
    is the production recall. Probing all cells must (and does — see the
    pytest pin) reach recall 1.0, anchoring the curve.
    """
    from pyspark.sql import Window

    base = ivf.select(id_col, vec_col, "nrm", "cell")
    queries = F.broadcast(
        base.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
            ivf_cells_ranked(F.col(vec_col), centroids).alias("cells_ranked"),
        )
    )
    sim = (
        safe_div(dot(F.col(vec_col), F.col("q_vec")), F.col("nrm") * F.col("q_nrm"))
    ).alias("sim")
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    exact = (
        base.join(queries.drop("cells_ranked"), how="cross")
        .select("q_id", id_col, sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col)
        .localCheckpoint(eager=True)  # shared by every n_probe row
    )
    out = None
    for n_probe in n_probes:
        probes = queries.select(
            "q_id",
            "q_vec",
            "q_nrm",
            F.explode(F.slice("cells_ranked", 1, n_probe)).alias("cell"),
        )
        ann = (
            base.join(F.broadcast(probes), "cell")
            .select("q_id", id_col, sim)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", id_col)
        )
        # integer hit counts + single exact-int divisions: see
        # ann_recall_at_k
        row = (
            exact.join(ann.withColumn("hit", F.lit(1)), ["q_id", id_col], "left")
            .groupBy("q_id")
            .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("hits"))
            .agg(
                F.lit(n_probe).cast("long").alias("n_probe"),
                F.count("*").cast("long").alias("n_queries"),
                (
                    F.sum("hits").cast("double")
                    / (F.count(F.lit(1)) * F.lit(k))
                ).alias("mean_recall_at_k"),
                (F.min("hits").cast("double") / F.lit(k)).alias(
                    "min_recall_at_k"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def sq_dist_py(vals: list[float], cent: list[float]) -> float:
    """Python twin of :func:`sq_dist` (bit-identical IEEE ops)."""
    import math

    return dsum_py([(x - y) * (x - y) for x, y in zip(vals, cent)])


def ivf_cell_py(vals: list[float], centroids: list[tuple[int, list[float]]]) -> int:
    """Python twin of :func:`ivf_assign` for driver-side query parameters."""
    return min((sq_dist_py(vals, c), cid) for cid, c in centroids)[1]


# ------------------------------------------------------- int8 scalar quant

Q_LEVELS = 127


def int8_quantize(vec: Column) -> Column:
    """Symmetric per-vector int8 scalar quantization: q_i = round-half-up of
    x_i · 127 / max|x| (0-vector ⇒ all zeros).

    The rounding is ``FLOOR(t + 0.5)`` — floor of identical IEEE doubles is
    bit-identical on every engine, while ROUND()'s half-handling is not (see
    functions/exact.py). Quantized vectors make the whole similarity kernel
    INTEGER arithmetic: dot and norms are exact int64 sums in any order, and
    the per-vector scale cancels out of cosine entirely, so the quantized
    cosine needs no float accumulation discipline at all. At 100 TB this is
    also the storage play: 64 bytes/vector instead of 256/512, 4-8× more
    vectors per scan byte and per shuffle byte.
    """
    maxabs = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    return F.when(
        maxabs > 0,
        F.transform(
            vec,
            lambda x: F.floor(
                x.cast("double") * F.lit(float(Q_LEVELS)) / maxabs + F.lit(0.5)
            ).cast("bigint"),
        ),
    ).otherwise(F.transform(vec, lambda x: F.lit(0).cast("bigint")))


def int8_quantize_py(vals: list[float]) -> list[int]:
    """Python twin of :func:`int8_quantize` (bit-identical IEEE ops) for
    driver-side query parameters."""
    import math

    m = max(abs(float(x)) for x in vals) if vals else 0.0
    if m <= 0:
        return [0] * len(vals)
    return [math.floor(float(x) * float(Q_LEVELS) / m + 0.5) for x in vals]


def int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two integer arrays — associative, so
    order-independent with no quantization discipline needed."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def int8_cosine(qvec_col: Column, query_q: list[int]) -> Column:
    """Quantized cosine vs a literal quantized query vector.

    cos = Σqa·qb / (√Σqa² · √Σqb²): the per-vector scales cancel, so this
    is pure integer arithmetic up to two final sqrt/divide ops on exact
    integers — deterministic IEEE on every engine."""
    import math

    qlit = F.array(*[F.lit(int(v)).cast("bigint") for v in query_q])
    qn = math.sqrt(sum(v * v for v in query_q))
    return safe_div(
        int_dot(qvec_col, qlit).cast("double"),
        F.sqrt(int_dot(qvec_col, qvec_col).cast("double")) * F.lit(qn),
    )


# ---------------------------------------------------------------- IVF training

Q8 = 10**8  # component quantization scale for k-means training
Q14 = 10**14  # distance-term quantization scale (same as _SCALE)


def qfloor(expr: Column) -> Column:
    """Guarded micro-quantizer: floor(expr) as bigint, 0 when expr sits
    outside int64 range (NaN, ±Inf, or an absurd finite magnitude) — the
    same non-finite contract as :func:`_dsum_terms`'s fold term. Without
    the guard, floor saturates ±Inf to ±Long.MAX and the NEXT integer
    add/multiply aborts the whole job under ANSI mode (round-11
    dirty-parity audit: one broken encoder component killed six
    similarity queries). Oracle twin:
    ``COALESCE(TRY_CAST(FLOOR(expr) AS BIGINT), 0)``."""
    return (
        F.when(expr.between(-_TERM_LIM, _TERM_LIM), F.floor(expr))
        .otherwise(F.lit(0))
        .cast("bigint")
    )


def quantize8(vec: Column) -> Column:
    """Components as exact micro-integers: floor(x · 1e8). float32 → double
    is exact, the scaled floor is deterministic IEEE, so every engine derives
    the identical integer vector — the foundation that makes iterative
    k-means hash-checkable. Non-finite components quantize to 0 (qfloor)."""
    return F.transform(vec, lambda x: qfloor(x.cast("double") * F.lit(float(Q8))))


def kmeans_dist_q(xq: Column, comps: list[float]) -> Column:
    """Quantized squared L2 distance to a literal centroid: per-component
    term floor(d²·1e14) as bigint, summed exactly (order-free). Comparisons
    between cells are therefore pure integer comparisons — no float-sum
    nondeterminism anywhere in the argmin."""
    c_arr = F.array(*[F.lit(float(c)) for c in comps])
    terms = F.zip_with(
        xq,
        c_arr,
        lambda x, c: qfloor(
            (x.cast("double") / F.lit(float(Q8)) - c)
            * (x.cast("double") / F.lit(float(Q8)) - c)
            * F.lit(float(Q14))
        ),
    )
    return F.aggregate(terms, F.lit(0).cast("bigint"), lambda a, t: a + t)


def kmeans_assign(vq: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Argmin cell per vector over literal centroids, as a row-local
    expression battery: array of (dist_q, cell) structs → array_min
    (lexicographic ⇒ deterministic tie-break on cell id)."""
    pairs = F.array(
        *[
            F.struct(
                kmeans_dist_q(F.col("xq"), comps).alias("d"),
                F.lit(int(cell)).cast("bigint").alias("c"),
            )
            for cell, comps in cents
        ]
    )
    return vq.select("vec_id", "xq", F.array_min(pairs)["c"].alias("cell"))


def kmeans_recompute(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """New centroids as exact rationals: per-component bigint sums + member
    counts (posexplode → ONE hash agg — map-side partial sums, never a
    window), then the double division (s / cn) / 1e8 on the driver. Driver
    state is k·dim integers — the bounded-collect discipline every iterative
    DataFrame algorithm here follows (cf. `_centroids`)."""
    sums = (
        assigned.select("cell", F.posexplode("xq").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.sum("x").alias("s"))
        .collect()
    )
    counts = {
        r["cell"]: r["n"]
        for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    by_cell: dict[int, dict[int, int]] = {}
    for r in sums:
        by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = int(r["s"])
    cents = []
    for cell in sorted(by_cell):
        cn = counts[cell]
        comps = [(by_cell[cell][p] / cn) / float(Q8) for p in sorted(by_cell[cell])]
        cents.append((cell, comps))
    return cents


def ivf_train(
    vectors: DataFrame,
    k: int = N_CENTROIDS,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means as a deterministic DataFrame iteration — the training
    step the training-free IVF layout (`_centroids`) skips. Seeds are the
    vectors with ids 1..k (the same deterministic choice the IVF index
    uses); each round is assign (row-local argmin over ≤k literal
    centroids) → recompute (one exploded hash agg + bounded collect).
    All distances/sums are quantized-integer exact, so the final
    assignment is bit-identical on any engine — an oracle-checkable
    iterative algorithm.

    Returns the final assignment (vec_id, xq, cell). At 100 TB: train on a
    sample (k-means only needs a sketch of the density), then `ivf_assign`
    the full corpus with the trained literals — exactly the assign pass
    this loop already runs per round.
    """
    vq = vectors.select(id_col, quantize8(F.col(vec_col)).alias("xq"))
    seeds = (
        vq.filter(F.col(id_col).between(1, k))
        # a NaN/Inf component quantizes to a NULL xq entry — unindexable
        # as a seed (same contract as finite_vec for raw centroids)
        .filter(~F.exists("xq", lambda x: x.isNull()))
        .select(id_col, "xq")
        .collect()
    )
    if not seeds:
        raise ValueError(
            f"no k-means seed vectors (id 1..{k}) — empty or too-small corpus"
        )
    cents = [
        (int(r[id_col]), [(int(x) / 1) / float(Q8) for x in r["xq"]])
        for r in sorted(seeds, key=lambda r: int(r[id_col]))
    ]
    assigned = kmeans_assign(vq, cents)
    for _ in range(iters - 1):
        cents = kmeans_recompute(assigned)
        assigned = kmeans_assign(vq, cents)
    return assigned


# ---------------------------------------------------------- product quantization

PQ_M = 8  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 4  # codes per subspace


def pq_codebooks(
    seed_rows: list[tuple[int, list[int]]],
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks from the deterministic seed vectors (ids
    1..PQ_K — the same training-free choice the IVF layout makes; swap in
    `ivf_train`-style Lloyd rounds per subspace when trained codebooks are
    wanted). ``seed_rows`` are (vec_id, quantized components)."""
    if not seed_rows:
        raise ValueError(
            f"no PQ seed vectors (vec_id 1..{PQ_K}) — empty or too-small "
            "corpus"
        )
    books = []
    for m in range(PQ_M):
        book = []
        for cid, xq in sorted(seed_rows):
            sub = xq[m * PQ_SUB : (m + 1) * PQ_SUB]
            book.append((int(cid), [(int(x) / 1) / float(Q8) for x in sub]))
        books.append(book)
    return books


def pq_assign(vq: DataFrame, books: list[list[tuple[int, list[float]]]]) -> DataFrame:
    """Per-subspace argmin code + exact integer reconstruction error.

    64 floats become PQ_M small codes (32× less index bandwidth at 100 TB —
    the compressed-sled IVF-PQ serves from); everything is row-local
    expression work over literal codebooks, so the pass is a narrow scan
    with no shuffle at all."""
    code_cols = []
    err_cols = []
    for m, book in enumerate(books):
        sub = F.slice(F.col("xq"), m * PQ_SUB + 1, PQ_SUB)
        pairs = F.array(
            *[
                F.struct(
                    kmeans_dist_q(sub, comps).alias("d"),
                    F.lit(int(code)).cast("bigint").alias("c"),
                )
                for code, comps in book
            ]
        )
        best = F.array_min(pairs)
        code_cols.append(best["c"])
        err_cols.append(best["d"])
    recon = err_cols[0]
    for e in err_cols[1:]:
        recon = recon + e
    return vq.select(
        "vec_id",
        F.array(*code_cols).alias("codes"),
        F.concat_ws("|", *[c.cast("string") for c in code_cols]).alias("pq_code"),
        recon.cast("bigint").alias("recon_err_q"),
    )


def pq_adc_lut(
    query_xq: list[int], books: list[list[tuple[int, list[float]]]]
) -> list[list[tuple[int, int]]]:
    """Exact-integer ADC lookup tables: LUT[m][code] = quantized squared
    distance between the query's m-th subvector and that codebook entry —
    the same floor(d²·1e14) terms `kmeans_dist_q` uses, evaluated in Python
    (identical IEEE doubles), so Spark, DuckDB and this table agree
    bit-for-bit. PQ_M · PQ_K integers per query."""
    import math

    luts = []
    for m, book in enumerate(books):
        qsub = query_xq[m * PQ_SUB : (m + 1) * PQ_SUB]
        row = []
        for code, comps in book:
            s = 0
            for xi, c in zip(qsub, comps):
                d = xi / float(Q8) - c
                s += math.floor(d * d * float(Q14))
            row.append((int(code), int(s)))
        luts.append(row)
    return luts


def pq_adc_topk(
    coded: DataFrame, luts: list[list[tuple[int, int]]], k: int = 10
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per vector, the approximate
    distance is PQ_M integer LUT lookups + adds — the scan never touches the
    original vectors (32× less bandwidth), which is the entire point of the
    PQ serving path. TakeOrderedAndProject finishes it; no shuffle."""
    adc = None
    for m, row in enumerate(luts):
        arr = F.array(
            *[F.lit(int(s)).cast("bigint") for _code, s in sorted(row)]
        )
        t = F.element_at(arr, F.element_at(F.col("codes"), m + 1).cast("int"))
        adc = t if adc is None else adc + t
    return (
        coded.select("vec_id", adc.cast("bigint").alias("adc_q"))
        .orderBy("adc_q", "vec_id")
        .limit(k)
    )
