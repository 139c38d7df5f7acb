"""Similarity search over embedding columns (array<float>).

Net-new scale operators (not in the reference):

* ``cosine_topk`` — exact brute force: the (small) query matrix is
  broadcast, each corpus Arrow batch computes one BLAS product against
  it inside ``mapInPandas`` and emits only its local top-k per query,
  and a window keeps the global top-k. O(|corpus| * |queries|) compute,
  zero shuffle on the corpus side.
* ``ivf_topk`` — IVF-style pruning: assign corpus vectors to the nearest
  of C centroids once (one pass), then search only the ``nprobe`` closest
  centroids' partitions per query. The scale path: 100 TB of vectors
  partitioned by centroid id → partition pruning does the work.
* ``random_hyperplane_lsh`` — sign-bit bucketing for cosine LSH; bucket
  join replaces the cross product.

Every ranked cosine search — :func:`cosine_topk`,
:func:`hard_negatives` and :func:`ivf_topk` — is one BLAS kernel,
:func:`_cosine_search`, with a per-query candidate mask; the IVF probe
of :func:`ivf_topk` and :func:`ivf_pq_topk` is one function,
:func:`_ivf_probe`. One usable-vector rule, :func:`_unit_rows`, holds
for every cosine in the module: a vector that is NULL or empty, has
zero norm, or holds a NaN, ±inf or NULL element has no cosine, so it
is no query and no neighbor in any search, in no pair, and its
``centroid_id`` from :func:`assign_centroids` is NULL.

Embedding near-duplicate pairs (``cosine >= threshold``, ``id_a < id_b``)
come from one tiled BLAS kernel, :func:`_threshold_pairs`, under four
contracts: :func:`near_duplicate_pairs` (exact, broadcast corpus, capped
at 2M rows), :func:`blocked_near_duplicate_pairs` (exact, block
nested-loop join, no cap), :func:`bucketed_near_duplicate_pairs` (LSH
selects the candidates) and :func:`semdedup_pairs` (within one centroid
cell). All four take ids of any orderable type, typed from the input
schema.

Squared-L2 nearest-centroid assignment — :func:`lloyd_kmeans`,
:func:`kmeans_cluster_qa`, :func:`product_quantize_arrow` and the two
streaming codebook monitors — comes from one tiled numpy kernel,
:func:`_nearest`, with Spark's ordering as its one tie and NaN rule.
Those operators read a long-form codebook with :func:`_read_codebook`
and keep only rows that pass :func:`_usable`: a NULL, empty or
non-finite vector has no distance, so it joins no cluster.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

#: rows per side of one similarity tile: no product the pair kernel forms,
#: and no distance block the nearest-centroid kernel forms, exceeds
#: _CHUNK² doubles (128 MiB), whatever the batch, group or corpus size
_CHUNK = 4096


def _id_dtype(df: DataFrame, id_col: str) -> str:
    """numpy dtype of an id column in the pair kernel: int64 for integral
    Spark types, object (Python values compared with ``<``) for any other
    orderable type."""
    return ("int64" if isinstance(df.schema[id_col].dataType, IntegralType)
            else "object")


def _unit_rows(pdf, vec_col: str, id_col: Optional[str] = None,
               id_dtype: str = "object"):
    """``(rows, ids, unit)`` for the rows of ``pdf`` whose vector has a
    cosine — the one usable-vector rule of every search and assignment
    in this module. A vector that is NULL or empty, or whose L2 norm is
    zero or not finite (a NaN, ±inf or NULL element), has no cosine, so
    its row is dropped here, as is a row with a NULL id when ``id_col``
    is given. ``unit`` stacks the kept vectors as float64 rows scaled to
    unit L2 norm; ``rows`` is the kept frame with its index, for callers
    that read its other columns; ``ids`` is None without ``id_col``."""
    import numpy as np

    keep = pdf[vec_col].map(len, na_action="ignore") > 0
    if id_col is not None:
        keep &= pdf[id_col].notna()
    rows = pdf[keep]
    m = (np.stack(rows[vec_col].to_numpy()).astype(np.float64)
         if len(rows) else np.empty((0, 0)))
    norm = np.linalg.norm(m, axis=1)
    ok = np.isfinite(norm) & (norm > 0)
    rows = rows[ok]
    ids = None if id_col is None else rows[id_col].to_numpy(dtype=id_dtype)
    return rows, ids, m[ok] / norm[ok, None]


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str, *carry: str):
    """Driver-side :func:`_unit_rows` of ``df``'s ``(id_col, vec_col,
    *carry)`` columns, moved by Arrow transfer — measured ~5× faster
    than ``collect()`` for 50k × 64-dim at sf0.1. Row order is
    ``df``'s."""
    spark = df.sparkSession
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        pdf = df.select(id_col, vec_col, *carry).toPandas()
    finally:
        spark.conf.set(key, prev)
    return _unit_rows(pdf, vec_col, id_col, _id_dtype(df, id_col))


def _codebook_units(centroids: DataFrame):
    """``(cids, unit)`` of an ``(centroid_id, centroid)`` codebook:
    its usable centroids in Spark's ``centroid_id`` order (so string
    labels tie-break as the engine would), as a Python list and unit
    rows. k×dim doubles, model-scale."""
    _, cids, unit = _collect_matrix(centroids.orderBy("centroid_id"),
                                    "centroid_id", "centroid")
    return cids.tolist(), unit


def _broadcast_or_capture(spark, payload):
    """Ship a driver-side payload to executors: TorrentBroadcast when the
    classic sparkContext exists, plain closure capture under Spark
    Connect (no sparkContext there — the payload then rides the
    serialized task; same semantics, loses only the torrent distribution
    optimization). Returns a zero-arg accessor usable inside the worker
    closure."""
    from ..connect import spark_context

    sc = spark_context(spark)
    if sc is None:  # Spark Connect / no JVM-side context
        return lambda: payload
    b = sc.broadcast(payload)
    return lambda: b.value


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ in double precision, computed with higher-order functions
    (whole-stage codegen; no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def with_norm(df: DataFrame, vec_col: str, out: str = "norm") -> DataFrame:
    return df.withColumn(out, _norm(F.col(vec_col)))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best ``(query_id, neighbor_id, cosine)`` rows,
    ranked by cosine descending with ties to the lower neighbor_id, plus
    that ``rank`` — the one top-k tail of the search operators."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _cosine_search(corpus: DataFrame, query, *, id_col: str, vec_col: str,
                   k: int, exclude_self: bool, key_col: Optional[str] = None,
                   keep=None) -> DataFrame:
    """The one ranked cosine search: each query's ``k`` best corpus rows
    as ``(query_id, neighbor_id, cosine, rank)`` through :func:`_top_k`.

    ``query`` is the driver-side ``(ids, unit, keys)`` of the usable
    queries (:func:`_collect_matrix`; small by contract), broadcast to
    executors. Each corpus Arrow batch forms one BLAS product against it
    and emits only its local top-k per query — exact, because the global
    top-k is in the union of the per-batch top-k — so the corpus is
    scanned once and never shuffled. A corpus row is a candidate of
    query ``i`` when it is usable (:func:`_unit_rows`), is not the query
    itself under ``exclude_self``, and, with ``keep``, when
    ``keep(key_col values of the batch, keys[i])`` holds. Ids keep the
    corpus schema's type."""
    import numpy as np
    import pandas as pd

    get_q = _broadcast_or_capture(corpus.sparkSession, query)
    id_dtype = _id_dtype(corpus, id_col)
    id_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {id_t}, neighbor_id {id_t}, cosine double"
    cols = [id_col, vec_col] + ([key_col] if key_col else [])

    def part(it):
        ids, qn, keys = get_q()
        for pdf in it:
            rows, c_ids, cm_n = _unit_rows(pdf, vec_col, id_col, id_dtype)
            if not len(c_ids) or not len(ids):
                continue
            c_keys = rows[key_col].to_numpy() if key_col else None
            sims = qn @ cm_n.T                      # (n_q, n_batch) BLAS
            for qi, qid in enumerate(ids):
                s = sims[qi]
                mask = c_ids != qid if exclude_self else np.ones(len(s), bool)
                if keep is not None:
                    mask &= keep(c_keys, keys[qi])
                cand_idx = np.nonzero(mask)[0]
                if not len(cand_idx):
                    continue
                # local exact top-k by (-cosine, id)
                order = cand_idx[np.lexsort((c_ids[cand_idx], -s[cand_idx]))][:k]
                yield pd.DataFrame({
                    "query_id": np.full(len(order), qid, dtype=id_dtype),
                    "neighbor_id": c_ids[order],
                    "cosine": s[order],
                })

    from ..plans import fan_out

    return _top_k(
        fan_out(corpus.select(*cols)).mapInPandas(part, out_schema), k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine, rank), ranked by cosine
    descending with ties to the lower neighbor id. Execution is
    :func:`_cosine_search`: the normalized query matrix is broadcast,
    each corpus batch runs one BLAS product and emits its local top-k,
    and only |queries| × k × batches candidate rows reach the final
    ranking window. A NULL, empty, zero or non-finite vector is never a
    query or a neighbor. Ids of any orderable type are typed from the
    corpus schema.
    """
    _, ids, unit = _collect_matrix(queries, id_col, vec_col)
    return _cosine_search(corpus, (ids, unit, None), id_col=id_col,
                          vec_col=vec_col, k=k, exclude_self=exclude_self)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for embedding-model training: for each
    query, the ``k`` most cosine-similar corpus vectors whose
    ``label_col`` DIFFERS from the query's — the nearest non-positives
    that contrastive / triplet losses learn the most from. The label
    mask applies BEFORE the top-k cut (a post-filter over a plain
    top-k under-delivers whenever positives crowd the head), and rows
    with NULL labels are excluded on both sides — an unlabeled row can
    prove neither positive nor negative. Returns (query_id,
    neighbor_id, cosine, rank).

    Scale shape: :func:`_cosine_search` with the label mask — the query
    set is small by contract and broadcast with its labels; the corpus
    is scanned once, never shuffled, its NULL labels filtered at the
    scan; only masked candidates reach the per-query rank window. A
    query is never its own negative: it shares its own label. Unusable
    vectors are in no result (:func:`_unit_rows`)."""
    labelled = F.col(label_col).isNotNull()
    q_rows, ids, unit = _collect_matrix(queries.filter(labelled), id_col,
                                        vec_col, label_col)
    return _cosine_search(corpus.filter(labelled),
                          (ids, unit, q_rows[label_col].to_numpy()),
                          id_col=id_col, vec_col=vec_col, k=k,
                          exclude_self=False, key_col=label_col,
                          keep=lambda c, q: c != q)


def _threshold_pairs(ids_a, unit_a, ids_b, unit_b, threshold: float,
                     chunk: int = _CHUNK):
    """The pair kernel: ``(idx_a, idx_b, cosine)`` arrays for every row
    of A and row of B with ``cosine >= threshold`` and
    ``ids_a[idx_a] < ids_b[idx_b]``. ``unit_a``/``unit_b`` are unit-row
    matrices from :func:`_unit_rows`. The product is formed as
    ``chunk × chunk`` BLAS tiles, so no sims matrix exceeds chunk²
    doubles whatever the sizes. The grouped searches pass one group as
    both sides; the broadcast search passes a batch against the
    corpus."""
    import numpy as np

    out = []
    for lo_a in range(0, len(ids_a), chunk):
        tile_ids_a = ids_a[lo_a:lo_a + chunk, None]
        for lo_b in range(0, len(ids_b), chunk):
            sims = unit_a[lo_a:lo_a + chunk] @ unit_b[lo_b:lo_b + chunk].T
            ia, ib = np.nonzero(
                (sims >= threshold)
                & (tile_ids_a < ids_b[None, lo_b:lo_b + chunk]))
            if len(ia):
                out.append((ia + lo_a, ib + lo_b, sims[ia, ib]))
    if not out:
        return np.empty(0, np.intp), np.empty(0, np.intp), np.empty(0)
    return tuple(np.concatenate(col) for col in zip(*out))


def _pair_schema(df: DataFrame, id_col: str, carry=()) -> str:
    """``id_a, id_b, *carry, cosine`` with the id and carried columns
    typed as in ``df``."""
    def typed(name, col):
        return f"{name} {df.schema[col].dataType.simpleString()}"

    return ", ".join([typed("id_a", id_col), typed("id_b", id_col),
                      *(typed(c, c) for c in carry), "cosine double"])


def _grouped_pairs(cand: DataFrame, cells: list, *, id_col: str,
                   vec_col: str, threshold: float, chunk: int,
                   keep=None, carry=()) -> DataFrame:
    """The one grouped pair search: ``cand``'s rows grouped by the
    ``cells`` columns, and the kernel run on each group against itself
    inside one grouped ``applyInPandas``. Returns ``(id_a, id_b,
    *carry, cosine)``, where ``carry`` names cell columns copied onto
    each pair. ``keep(key, rows, idx_a, idx_b)``, when given, returns a
    mask over a group's pairs, for callers whose groups overlap."""
    import pandas as pd

    id_dtype = _id_dtype(cand, id_col)

    def _cell(key, pdf):
        rows, ids, unit = _unit_rows(pdf, vec_col, id_col, id_dtype)
        ia, ib, cos = _threshold_pairs(ids, unit, ids, unit, threshold, chunk)
        if keep is not None:
            m = keep(key, rows, ia, ib)
            ia, ib, cos = ia[m], ib[m], cos[m]
        out = {"id_a": ids[ia], "id_b": ids[ib]}
        for c in carry:
            out[c] = [key[cells.index(c)]] * len(ia)
        out["cosine"] = cos
        return pd.DataFrame(out)

    return cand.groupBy(*cells).applyInPandas(
        _cell, _pair_schema(cand, id_col, carry))


def near_duplicate_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    corpus_broadcast_limit: int = 2_000_000,
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup detection).

    The exact reference tier. The full corpus matrix (normalized,
    float64) is broadcast and each Arrow batch runs the pair kernel
    against it (batch × corpus, tiled like the other tiers), emitting
    only pairs over threshold with id_a < id_b — an O(n²) compute but
    O(n) shuffle. Broadcasting bounds corpus size (~2M × 64-dim ≈ 1 GB);
    beyond that use ``blocked_near_duplicate_pairs`` (exact, no cap) or
    ``bucketed_near_duplicate_pairs`` (LSH candidates). Rows with a NULL
    vector are in no pair; ids keep their input type.
    """
    import pandas as pd

    _, ids, unit = _collect_matrix(df, id_col, vec_col)
    if len(ids) > corpus_broadcast_limit:
        raise ValueError(
            f"corpus has {len(ids)} vectors > broadcast limit; "
            "use blocked_near_duplicate_pairs or "
            "bucketed_near_duplicate_pairs")
    get_all = _broadcast_or_capture(df.sparkSession, (ids, unit))
    id_dtype = _id_dtype(df, id_col)

    def part(it):
        all_ids, all_unit = get_all()
        for pdf in it:
            _, b_ids, b_unit = _unit_rows(pdf, vec_col, id_col, id_dtype)
            ia, ib, cos = _threshold_pairs(
                b_ids, b_unit, all_ids, all_unit, threshold)
            if len(ia):
                yield pd.DataFrame({"id_a": b_ids[ia], "id_b": all_ids[ib],
                                    "cosine": cos})

    from ..plans import fan_out

    return fan_out(df.select(id_col, vec_col)).mapInPandas(
        part, _pair_schema(df, id_col))


def blocked_near_duplicate_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_blocks: int = 8,
    chunk: int = _CHUNK,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold with NO driver collect and no
    corpus-size cap — the drop-in scale replacement for
    ``near_duplicate_pairs``'s broadcast design.

    Block nested-loop join: rows hash into ``num_blocks`` blocks; each
    row is replicated to the ``num_blocks`` unordered block pairs it
    participates in (one explode — shuffle volume O(n · num_blocks)),
    and each (i, j) group runs the pair kernel inside the grouped
    ``applyInPandas``, chunked so no sims matrix exceeds ``chunk²``
    doubles. A group keeps only the pairs whose own block pair is the
    group's: same-block pairs come only from the diagonal group (i, i),
    cross-block pairs only from (i, j), i < j — so every pair is
    produced exactly once and no dedup pass is needed.

    Exact: identical output to ``near_duplicate_pairs`` for unique ids
    (asserted in tests, including chunk sizes that don't divide the
    group), so compute is still O(n²) overall — for subquadratic
    candidate generation at extreme n use
    ``bucketed_near_duplicate_pairs``. Ids must be unique: the
    ``id_a < id_b`` pairing (like the exact operator's) never emits a
    pair for two rows sharing an id. Group size is ~2n/num_blocks
    rows; raise ``num_blocks`` (∝ √tasks) to bound executor memory as n
    grows.
    """
    import numpy as np

    B = max(1, num_blocks)
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).alias("__blk")
    base = df.select(F.col(id_col), F.col(vec_col), blk)
    others = F.array(*[F.lit(o) for o in range(B)])
    # the B generated pair-ids are pairwise distinct for one row (the
    # unordered pair {blk, o} is unique per o), so no dedup pass is needed
    pair_id = F.explode(F.transform(
        others,
        lambda o: F.least(F.col("__blk"), o) * B + F.greatest(F.col("__blk"), o),
    )).alias("__pair")
    cand = base.select(id_col, vec_col, "__blk", pair_id)

    def _own_block_pair(key, rows, ia, ib):
        b = rows["__blk"].to_numpy()
        return (np.minimum(b[ia], b[ib]) * B + np.maximum(b[ia], b[ib])
                == key[0])

    return _grouped_pairs(cand, ["__pair"], id_col=id_col, vec_col=vec_col,
                          threshold=threshold, chunk=chunk,
                          keep=_own_block_pair)


def bucketed_near_duplicate_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    threshold: float = 0.95,
    num_tables: int = 8,
    planes_per_table: int = 8,
    seed: int = 42,
    chunk: int = _CHUNK,
) -> DataFrame:
    """near_duplicate_pairs without the driver-memory ceiling.

    Each row is bucketed by ``num_tables`` independent random-hyperplane
    LSH tables (the :func:`random_hyperplane_lsh` bucket, pure column
    expressions, one scan), then each (table, bucket) group runs the
    pair kernel inside the grouped ``applyInPandas`` and emits only
    pairs over threshold; a final groupBy dedups pairs found by several
    tables. Nothing is collected to the driver and no broadcast grows
    with the corpus — shuffle volume is O(n · num_tables) rows, compute
    is O(Σ bucket²).

    Recall: a pair is found iff some table puts both rows in the same
    bucket — P(hit one table) = (1 - θ/π)^planes, so more tables with
    fewer planes each raises recall at the cost of bigger buckets. The
    defaults give recall 1.0 vs the exact operator on the sf0.01/sf0.1
    test embeddings (asserted in tests); cosine values are exact (the
    verify step recomputes the true dot product, LSH only selects
    candidates).

    Skew note: one pathological bucket (e.g. a mass of near-zero
    vectors) serializes into one task; raise ``planes_per_table`` to
    split buckets before reaching that regime. More generally
    ``planes_per_table`` must grow with log2(n): 2^planes buckets per
    table means an average bucket of n/2^planes rows, and the per-bucket
    BLAS is quadratic in that — at 10⁹ vectors use ~20 planes, not 8.
    Within a bucket the product is tiled to ``chunk²`` doubles so a
    large bucket degrades to more tile iterations, not an OOM.
    """
    # ONE scan: every table's bucket id is a pure column expression, so
    # all num_tables (table, bucket) assignments ride a single exploded
    # projection — the union-of-branches formulation re-scanned (and
    # re-normalized) the corpus once per table
    structs = [
        F.struct(F.lit(t).alias("__table"),
                 _hyperplane_bucket(vec_col, dim, planes_per_table,
                                    seed + 7919 * t).alias("__bucket"))
        for t in range(num_tables)]
    cand = (df.select(id_col, vec_col,
                      F.explode(F.array(*structs)).alias("__tb"))
            .select(id_col, vec_col, "__tb.__table", "__tb.__bucket"))
    pairs = _grouped_pairs(cand, ["__table", "__bucket"], id_col=id_col,
                           vec_col=vec_col, threshold=threshold, chunk=chunk)
    # same pair may surface from several tables; cosine is identical
    # (recomputed exactly) so any aggregate works — max is deterministic
    return pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) pruned search
# ---------------------------------------------------------------------------

def train_centroids_df(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    by_col: Optional[str] = None,
    num_centroids: int = 16,
) -> DataFrame:
    """Cheap deterministic centroids: elementwise mean per ``by_col``
    (e.g. an existing label/cluster column), or per hash-bucket of the id
    when no label exists. One aggregation job; replaceable by a real
    k-means without touching the search path."""
    key = F.col(by_col) if by_col else F.pmod(F.xxhash64(vec_col), F.lit(num_centroids))
    dim_df = corpus.select(F.size(vec_col).alias("d")).limit(1)
    dim = dim_df.first()["d"]
    # the dim per-dimension sums and the mean array build as TWO SQL
    # strings (r16): the per-dimension Column listcomps issued ~900
    # py4j round trips at dim=64 — pure driver chatter repeated per
    # call (embed_ivf_pq profile). Identical aggregates after parsing:
    # array(sum(element_at(v, i))…) is the same sum set, and each
    # CAST(s / n AS FLOAT) division is unchanged.
    vec_sql = "`" + vec_col.replace("`", "``") + "`"
    sums_sql = ", ".join(
        f"sum(element_at({vec_sql}, {i + 1}))" for i in range(dim))
    sums = corpus.groupBy(key.alias("centroid_id")).agg(
        F.expr(f"array({sums_sql})").alias("__ss"),
        F.count("*").alias("n"),
    )
    return sums.select(
        "centroid_id",
        F.expr("transform(__ss, s -> CAST(s / n AS FLOAT))")
        .alias("centroid"))


def _nearest(x, c, tile: int = _CHUNK * _CHUNK):
    """The squared-L2 nearest-centroid kernel: ``(idx, dist, runner)``
    for the float64 rows ``x`` (n × dim) against the codebook ``c``
    (k × dim) — each row's nearest codeword index, its squared distance
    and the runner-up squared distance (+inf when k = 1).

    Distances are ``((x − c)²).sum`` over row tiles, so no temporary
    exceeds ``tile`` doubles whatever n and k are; each row's sum runs
    over the same dim values as one untiled block, so tiling changes no
    bit. Order is Spark's: NaN sorts above every double, +inf included,
    and ties go to the lowest index. A row whose every distance is NaN
    gets index 0, as ``array_position(d, array_min(d))`` does in SQL."""
    import numpy as np

    n, k = len(x), len(c)
    idx = np.empty(n, np.intp)
    dist = np.empty(n)
    runner = np.full(n, np.inf)
    step = max(1, tile // max(1, k * c.shape[1]))
    for lo in range(0, n, step):
        xt = x[lo:lo + step]
        # inf − inf is NaN, which the rule below orders; no warning
        with np.errstate(invalid="ignore"):
            d = ((xt[:, None, :] - c[None, :, :]) ** 2).sum(-1)
        nan = np.isnan(d)
        best = np.where(nan, np.inf, d).argmin(axis=1)
        # NaN was folded onto +inf for the argmin; where it won, a real
        # +inf later in the row still beats it
        rows = np.arange(len(d))
        lost = nan[rows, best] & ~nan.all(axis=1)
        best[lost] = (~nan[lost]).argmax(axis=1)
        idx[lo:lo + step] = best
        dist[lo:lo + step] = d[rows, best]
        if k > 1:
            # np.partition also sorts NaN above +inf
            runner[lo:lo + step] = np.partition(d, 1, axis=1)[:, 1]
    return idx, dist, runner


def _usable(df: DataFrame, vec_col: str,
            id_col: Optional[str] = None) -> DataFrame:
    """``df``'s rows whose vector has a squared-L2 distance: not NULL,
    non-empty, and every element a finite non-NULL number (``id_col``,
    when given, non-NULL too). A NaN, ±inf or NULL element has no
    distance, so the codebook operators put such a vector in no
    cluster, as they do a NULL vector. Built from ``array_max`` /
    ``array_min`` (NaN sorts above +inf), so it stays in codegen."""
    v = F.col(vec_col)
    ok = (v.isNotNull() & (F.size(v) > 0)
          & (F.size(F.array_compact(v)) == F.size(v))
          & (F.array_max(v) < F.lit(math.inf))
          & (F.array_min(v) > F.lit(-math.inf)))
    if id_col is not None:
        ok = ok & F.col(id_col).isNotNull()
    return df.filter(ok)


def _read_codebook(centroids_long: DataFrame, carry: Optional[str] = None):
    """``(cids, cmat)`` from a long-form ``(centroid_id, pos, coord)``
    codebook — :func:`lloyd_kmeans`'s output shape, extra columns
    ignored: the centroid ids in Spark's order and a k × dim float64
    matrix of their coordinates by ``pos``. With ``carry``, a third
    item lists that per-centroid column's value (read from each
    centroid's first row) aligned with ``cids``. The one driver-side
    reader of the format: one collect of k × dim rows, model-scale."""
    import numpy as np

    cols = ["centroid_id", "pos", "coord"] + ([carry] if carry else [])
    rows = (centroids_long.select(*cols)
            .orderBy("centroid_id", "pos").collect())
    cids, coords, carried = [], [], []
    for r in rows:
        if not cids or r["centroid_id"] != cids[-1]:
            cids.append(r["centroid_id"])
            coords.append([])
            carried.append(r[carry] if carry else None)
        coords[-1].append(r["coord"])
    cmat = np.asarray(coords, dtype=np.float64)
    return (cids, cmat, carried) if carry else (cids, cmat)


def _lloyd_partials(vecs: DataFrame, cents, *, measure: bool) -> DataFrame:
    """The plan of one Lloyd assignment pass over ``vecs`` (``__v``
    vectors that passed :func:`_usable`): one Arrow-batched
    ``mapInPandas`` assigning each row to its nearest centroid of
    ``cents`` (:func:`_nearest`) and emitting per-batch per-centroid
    partials — ``(cid, n, Σx)`` for an update step, ``(cid, n, wcss)``
    for a measure step — where ``cid`` indexes ``cents``. Map-only."""
    import numpy as np
    import pandas as pd

    c = np.asarray(cents, dtype=np.float64)

    def _partials(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            cid, dist, _ = _nearest(x, c)
            rows = []
            for ci in np.unique(cid):
                m = cid == ci
                agg = (float(dist[m].sum()) if measure
                       else x[m].sum(axis=0).tolist())
                rows.append((int(ci), int(m.sum()), agg))
            yield pd.DataFrame(rows, columns=["cid", "n", "agg"])

    schema = ("cid int, n long, agg double" if measure
              else "cid int, n long, agg array<double>")
    # no fan_out here (r16): the per-batch work is a vectorized BLAS
    # distance matrix — microseconds for any batch a <2 GB input can
    # produce — so a round-robin exchange to 32 partitions only
    # multiplied the fixed per-task Python cost (measured 8-9 task-s
    # per pass at 62 rows/task vs <0.5 on the scan's own partitions).
    # At scale the scan arrives in many partitions and parallelism is
    # free; fan_out stays on the genuinely CPU-per-row paths
    # (shingling, q-grams).
    return vecs.select("__v").mapInPandas(_partials, schema)


def _lloyd_pass_arrow(vecs: DataFrame, cents, *, measure: bool) -> dict:
    """One Lloyd assignment pass: :func:`_lloyd_partials` collected and
    reduced driver-side to ``{cid: (n, Σx)}`` (update) or ``{cid: (n,
    wcss)}`` (measure), a centroid no row chose absent — k×dim floats
    per batch, model-scale, never corpus rows. ONE job, zero shuffles:
    the partials come straight back in the collect.

    Float semantics: inputs upcast to float64 exactly; distance and
    member sums use numpy's pairwise order, the same class of
    reordering the DuckDB oracle already absorbs (its SUM order is
    unspecified), far below the 4-digit output rounding; assignment
    follows :func:`_nearest`'s lowest-index tie rule, the SQL oracle's
    ``ORDER BY dist, cid``."""
    import numpy as np

    out: dict = {}
    for p in _lloyd_partials(vecs, cents, measure=measure).collect():
        ci = p["cid"]
        if measure:
            n0, w0 = out.get(ci, (0, 0.0))
            out[ci] = (n0 + p["n"], w0 + p["agg"])
        else:
            n0, s0 = out.get(ci, (0, None))
            s = np.asarray(p["agg"], dtype=np.float64)
            out[ci] = (n0 + p["n"], s if s0 is None else s0 + s)
    return out


def lloyd_kmeans(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
    coord_digits: int = 4,
    wcss_digits: int = 3,
    sample_fraction: Optional[float] = None,
) -> DataFrame:
    """Real Lloyd's k-means over an embedding column — the trained
    upgrade to :func:`train_centroids_df`'s hash-bucket means (that
    docstring promises "replaceable by a real k-means without touching
    the search path"; this is it — its output schema matches
    ``(centroid_id, centroid)`` consumers after a pivot, and the
    long-form result here is the oracle-friendly surface).

    Deterministic by construction, no RNG: initial centroids are the
    vectors of the ``k`` smallest ids, ties in the nearest-centroid
    argmin break to the lowest centroid id, and an emptied cluster
    keeps its previous centroid. A row whose vector is NULL, empty or
    non-finite, or whose id is NULL, is neither a seed nor a member of
    any cluster (:func:`_usable`). ``iterations`` full Lloyd updates run,
    then one final assignment pass measures membership. Returns the
    long-form frame ``(centroid_id, pos, coord, n_assigned, wcss)`` —
    one row per centroid per dimension, ``coord`` rounded to
    ``coord_digits`` (negative-zero folded), ``n_assigned``/``wcss``
    the final-assignment cluster size and within-cluster sum of
    squared L2 distances.

    Scale shape (100 TB): each iteration is ONE map-only Arrow pass
    (:func:`_lloyd_pass_arrow`) — :func:`_nearest` against the k×dim
    driver-side codebook, and per-batch per-centroid partial sums,
    reduced driver-side. ZERO shuffles per iteration;
    the only collects are k×dim model partials, never corpus rows;
    arithmetic is all float64 so a DuckDB re-derivation lands within
    rounding of the same centroids.

    ``sample_fraction`` is the 100 TB training mode: seeds and the
    Lloyd updates run on a ``sampling.deterministic_sample`` of the
    corpus (md5-keyed — reproducible regardless of partitioning, and
    the module's shared coin so it nests with other samples on the
    same key), while the FINAL membership pass still measures the full
    corpus against the trained codebook. Training passes shrink by the
    fraction; determinism and the SQL twin survive because the sample
    is a plain portable-hash filter, not an RNG.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    # raw vector column through — the Arrow pass upcasts per batch
    # (float32 → float64 is exact) and ships half the bytes
    vecs = (_usable(corpus, vec_col, id_col)
            .select(F.col(id_col).alias("__id"),
                    F.col(vec_col).alias("__v")))
    train = vecs
    if sample_fraction is not None:
        from .sampling import deterministic_sample
        train = deterministic_sample(vecs, "__id", sample_fraction)
    seed_rows = train.orderBy("__id").limit(k).collect()
    if not seed_rows:
        raise ValueError("corpus has no usable vectors")
    cents: list[list[float]] = [[float(x) for x in r["__v"]]
                                for r in seed_rows]
    dim = len(cents[0])

    spark = corpus.sparkSession

    for _ in range(iterations):
        stats = _lloyd_pass_arrow(train, cents, measure=False)
        cents = [
            (stats[cid][1] / stats[cid][0]).tolist()
            if cid in stats else cvec           # emptied: keep previous
            for cid, cvec in enumerate(cents)]

    final = _lloyd_pass_arrow(vecs, cents, measure=True)
    rows = [(cid, pos,
             float(round(cvec[pos], coord_digits)) + 0.0,
             int(final[cid][0]) if cid in final else 0,
             (float(round(final[cid][1], wcss_digits)) + 0.0)
             if cid in final else 0.0)
            for cid, cvec in enumerate(cents) for pos in range(dim)]
    from ..plans import local_frame
    return local_frame(
        spark, rows, "centroid_id int, pos int, coord double, "
                     "n_assigned bigint, wcss double")


def centroids_from_long(centroids_long: DataFrame) -> DataFrame:
    """Collapse a long-form codebook ``(centroid_id, pos, coord)`` —
    :func:`lloyd_kmeans`'s output shape — into the ``(centroid_id,
    centroid array)`` frame the IVF search path consumes
    (:func:`assign_centroids` / :func:`ivf_topk`), fulfilling
    train_centroids_df's "replaceable by a real k-means without
    touching the search path" contract. k-row frame; model-scale."""
    return (centroids_long
            .groupBy(F.col("centroid_id"))
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "coord"))).alias("__pc"))
            .select("centroid_id", F.transform(
                F.col("__pc"), lambda s: s["coord"]).alias("centroid")))


def kmeans_cluster_qa(
    corpus: DataFrame,
    centroids_long: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: Optional[str] = None,
    digits: int = 4,
) -> DataFrame:
    """Cluster-quality gate over a trained codebook — the QA step
    between :func:`lloyd_kmeans` and trusting its clusters for
    curriculum bucketing / SemDeDup cells / IVF partitions.
    ``centroids_long`` is exactly lloyd_kmeans's output shape
    ``(centroid_id, pos, coord)`` (extra columns ignored), so the two
    compose without reshaping; because those coords are ROUNDED, both
    this operator and any SQL re-derivation measure distances from
    bit-identical centroid values.

    Per cluster: ``n`` members (nearest-centroid assignment, squared-L2
    argmin, ties -> lowest centroid id), ``avg_intra`` mean distance to
    the own centroid (cohesion), ``silhouette`` the centroid-based
    simplification of Kaufman-Rousseeuw — s = (b - a)/max(a, b) with
    ``a`` the distance to the assigned centroid and ``b`` the distance
    to the nearest OTHER centroid (O(n·k), no pairwise matrix — the
    full silhouette's O(n²) is exactly what doesn't scale), and
    ``purity`` the majority-``label_col`` fraction over labeled
    members (ties -> lowest label; NULL labels excluded from both
    numerator and denominator; NULL when the cluster has no labeled
    member). Emptied centroids still get a row (n = 0, NULL metrics).

    A row whose vector is NULL, empty or non-finite, or whose id is
    NULL, is in no cluster (:func:`_usable`).

    Scale shape: the k-row codebook is read driver-side
    (:func:`_read_codebook`, k×dim doubles, model-scale) into ONE
    map-only Arrow pass — :func:`_nearest` gives each row's distance to
    its centroid and to the runner-up — then a k-row groupBy plus (with
    labels) a (k × labels)-row count; no window over corpus rows, no
    join against corpus-sized frames."""
    import numpy as np
    import pandas as pd

    from ..plans import local_frame

    cids, cmat = _read_codebook(centroids_long)
    cid_t = centroids_long.schema["centroid_id"].dataType.simpleString()
    cb = local_frame(corpus.sparkSession, [(c,) for c in cids],
                     f"cid {cid_t}")
    base_cols = [F.col(vec_col).alias("__v")]
    if label_col:
        base_cols.append(F.col(label_col).alias("__lbl"))
    vecs = _usable(corpus, vec_col, id_col).select(*base_cols)
    # only the per-row (cid, a, sil[, label]) tuple returns to the JVM;
    # k=1 leaves the runner-up at +inf, so silhouette is NaN there
    schema = f"__cid {cid_t}, __a double, __s double"
    if label_col:
        lbl_t = vecs.schema["__lbl"].dataType.simpleString()
        schema += f", __lbl {lbl_t}"

    def _qa_rows(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            c1, d1, d2 = _nearest(x, cmat)
            a, b = np.sqrt(d1), np.sqrt(d2)
            mx = np.maximum(a, b)
            with np.errstate(invalid="ignore"):
                s = np.where(mx == 0, 0.0, (b - a) / mx)
            out = pd.DataFrame({
                "__cid": [cids[i] for i in c1],
                "__a": a, "__s": s})
            if label_col:
                out["__lbl"] = pdf["__lbl"].to_numpy()
            yield out

    # no fan_out (r16): vectorized per-batch work — see
    # _lloyd_partials' note on the per-task Python overhead
    assigned = vecs.mapInPandas(_qa_rows, schema)
    st = (assigned.groupBy("__cid")
          .agg(F.count(F.lit(1)).alias("__n"),
               F.avg("__a").alias("__ai"),
               F.avg("__s").alias("__sl")))
    rnd = lambda c: F.round(c, digits) + F.lit(0.0)  # noqa: E731
    out = (cb.select("cid")
           .join(st, cb["cid"] == st["__cid"], "left")
           .select(F.col("cid").alias("centroid_id"),
                   F.coalesce("__n", F.lit(0)).alias("n"),
                   rnd("__ai").alias("avg_intra"),
                   rnd("__sl").alias("silhouette")))
    if label_col:
        lab = (assigned.filter(F.col("__lbl").isNotNull())
               .groupBy("__cid", "__lbl")
               .agg(F.count(F.lit(1)).alias("__c")))
        w = Window.partitionBy("__cid").orderBy(
            F.col("__c").desc(), F.col("__lbl").asc())
        tot = Window.partitionBy("__cid")
        top = (lab.withColumn("__nl", F.sum("__c").over(tot))
               .withColumn("__rk", F.row_number().over(w))
               .filter(F.col("__rk") == 1)
               .select(F.col("__cid").alias("__pcid"),
                       rnd(F.col("__c") / F.col("__nl")).alias("purity")))
        out = (out.join(top, out["centroid_id"] == top["__pcid"], "left")
               .drop("__pcid"))
    return out


def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Tag each vector with its nearest centroid (cosine; ties → lowest
    centroid_id). At scale, write the result partitioned by centroid_id
    so probe queries prune partitions.

    Plan shape: the k-row codebook is read driver-side
    (:func:`_codebook_units`, k×dim doubles, model-scale) in Spark's
    ``centroid_id`` order, and the assignment is ONE map-only Arrow
    pass — one BLAS product of each batch's unit rows against the unit
    codebook, with ``argmax`` (first max over cid-sorted rows == ties
    → lowest centroid_id). Cost O(n·k·dim), shuffle zero. A vector with
    no cosine (NULL, empty, zero or non-finite, :func:`_unit_rows`) gets
    a NULL centroid_id, as does every row when no centroid is usable.
    """
    import pandas as pd

    cids, c_unit = _codebook_units(centroids)
    if not cids:
        return corpus.withColumn("centroid_id", F.lit(None).cast(
            centroids.schema["centroid_id"].dataType))
    cid_t = centroids.schema["centroid_id"].dataType.simpleString()
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in corpus.schema.fields)
    out_schema = f"{fields}, centroid_id {cid_t}"

    def _assign(it):
        for pdf in it:
            rows, _, x = _unit_rows(pdf, vec_col)
            out = pd.Series(None, index=pdf.index, dtype=object)
            if len(rows):
                out[rows.index] = [cids[i]
                                   for i in (x @ c_unit.T).argmax(axis=1)]
            pdf["centroid_id"] = out
            yield pdf

    return corpus.mapInPandas(_assign, out_schema)


def _ivf_probe(corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
               *, id_col: str, vec_col: str, nprobe: int):
    """The one IVF probe of :func:`ivf_topk` and :func:`ivf_pq_topk`:
    ``(ids, unit, probes, candidates)``. ``ids`` and ``unit`` are the
    usable queries (:func:`_collect_matrix`; small by contract), and
    row ``i`` of ``probes`` holds the ids of query ``i``'s ``nprobe``
    nearest cells by cosine, ties to the lowest centroid_id, from one
    driver-side product with the k-row codebook. ``candidates`` is
    ``corpus`` filtered to ``centroid_id IN`` the probed cells — a
    predicate that a store partitioned by cell prunes on."""
    import numpy as np

    cids, c_unit = _codebook_units(centroids)
    _, ids, unit = _collect_matrix(queries, id_col, vec_col)
    order = np.empty((len(ids), 0), np.intp)
    if len(ids) and cids:
        # stable over cid-sorted columns: equal cosines keep the lower id
        order = np.argsort(-(unit @ c_unit.T), axis=1,
                           kind="stable")[:, :max(0, nprobe)]
    probes = np.array(cids, dtype=object)[order]
    cells = sorted(set(probes.ravel().tolist()))
    return ids, unit, probes, corpus.filter(F.col("centroid_id").isin(cells))


def ivf_topk(
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k: per query, search only the corpus rows of its
    ``nprobe`` nearest centroids' cells. Returns (query_id, neighbor_id,
    cosine, rank).

    The probe (:func:`_ivf_probe`) is worked out driver-side from the
    broadcast queries and the k-row codebook, and the corpus is read
    through ``centroid_id IN (probed cells)`` — with the corpus stored
    partitioned by centroid_id, partition pruning skips every cell no
    query probes (the 100 TB-ready plan). The search is
    :func:`_cosine_search` with a per-query mask: a candidate's cell
    must be one of that query's probed cells, and a query is not its
    own neighbor. Unusable vectors are no query and no neighbor."""
    import numpy as np

    ids, unit, probes, cand = _ivf_probe(
        corpus_assigned, centroids, queries, id_col=id_col,
        vec_col=vec_col, nprobe=nprobe)
    return _cosine_search(cand, (ids, unit, probes), id_col=id_col,
                          vec_col=vec_col, k=k, exclude_self=True,
                          key_col="centroid_id",
                          keep=lambda c, cells: np.isin(c, cells))


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (cosine)
# ---------------------------------------------------------------------------

def random_hyperplane_lsh(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    num_planes: int = 16,
    seed: int = 42,
    out: str = "lsh_bucket",
) -> DataFrame:
    """Sign-bit bucket id from ``num_planes`` pseudo-random hyperplanes.

    Planes are generated deterministically (Box-Muller over a seeded LCG)
    driver-side and inlined as array literals — executors evaluate pure
    column expressions; vectors with the same bucket are cosine-close
    candidates."""
    return df.withColumn(out, _hyperplane_bucket(vec_col, dim, num_planes, seed))


def _hyperplane_bucket(vec_col: str, dim: int, num_planes: int,
                       seed: int) -> Column:
    """Sign-bit bucket id of ``vec_col`` against ``num_planes``
    hyperplanes drawn from ``seed``: bit p is set when the vector lies
    on plane p's positive side. NULL for a NULL vector."""
    rnd = _lcg(seed)
    planes = [
        [_gauss(rnd) for _ in range(dim)] for _ in range(num_planes)
    ]
    bucket = None
    for p_idx, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        bit = (_dot(F.col(vec_col), lit_plane) > 0).cast("long")
        term = bit * F.lit(2 ** p_idx).cast("long")
        bucket = term if bucket is None else bucket + term
    return bucket


def _lcg(seed: int):
    state = seed & 0x7FFFFFFF

    def nxt() -> float:
        nonlocal state
        state = (1103515245 * state + 12345) % (2 ** 31)
        return state / (2 ** 31)

    return nxt


def _gauss(rnd) -> float:
    u1 = max(rnd(), 1e-12)
    u2 = rnd()
    return math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.pi * u2)


def quantize_embedding(
    vec: Column,
    *,
    scale_out: bool = False,
) -> Column:
    """Symmetric int8 quantization of a float vector — 4× storage cut for
    100 TB embedding tables, with the scale kept per-vector so cosine /
    dot products dequantize on the fly.

    ``q_i = floor(x_i / scale + 0.5)`` with ``scale = max|x| / 127`` —
    the floor(+0.5) form (round-half-toward-+inf) is used instead of
    ``round()`` because its semantics are identical across engines,
    which keeps the op oracle-checkable. All arithmetic is double-
    precision JVM HOFs; no Python on the data path.

    Returns the ``array<tinyint>`` codes, or the ``(codes, scale)``
    struct when ``scale_out`` is set. Zero vectors quantize to zeros
    with scale 0.
    """
    d = F.transform(vec, lambda x: x.cast("double"))
    amax = F.array_max(F.transform(d, F.abs))
    scale = amax / F.lit(127.0)
    codes = F.when(amax == 0.0, F.transform(d, lambda x: x.cast("tinyint"))) \
        .otherwise(F.transform(
            d, lambda x: F.floor(x / scale + F.lit(0.5)).cast("tinyint")))
    if scale_out:
        return F.struct(codes.alias("codes"), scale.alias("scale"))
    return codes


def quantization_error(vec: Column, quantized: Column, scale: Column) -> Column:
    """Max absolute dequantization error across dimensions — the QA
    metric to gate a quantized table rollout (expect ≤ scale/2)."""
    d = F.transform(vec, lambda x: x.cast("double"))
    deq = F.transform(quantized, lambda q: q.cast("double") * scale)
    return F.array_max(F.transform(
        F.zip_with(d, deq, lambda a, b: F.abs(a - b)), lambda e: e))


def pq_codebooks(
    *,
    dim: int,
    m: int = 4,
    k: int = 16,
    seed: int = 7,
) -> list:
    """Deterministic pseudo-random product-quantization codebooks:
    ``m`` subspaces × ``k`` codewords × ``dim/m`` dims, drawn from the
    same seeded LCG + Box-Muller stream as :func:`random_hyperplane_lsh`
    so both engines (and the DuckDB oracle) see identical doubles.

    A stand-in for TRAINED codebooks — in production run
    :func:`kmeans_refine` per subspace over ``F.slice`` views of the
    corpus and feed the refined centroids here; the encoding math is
    identical either way."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rnd = _lcg(seed)
    dsub = dim // m
    return [[[_gauss(rnd) for _ in range(dsub)] for _ in range(k)]
            for _ in range(m)]


def _dbl_sql(c) -> str:
    """SQL double literal for one codeword component. Finite values use
    repr (round-trips to the identical double); non-finite values —
    nan/inf from a degenerate codebook — would render as ``nanD``/
    ``infD`` and raise ParseException at plan time, so they emit the
    string-cast spelling Spark parses to the same IEEE value the old
    ``F.lit(float(c))`` path produced (r16 advice)."""
    import math

    v = float(c)
    if math.isfinite(v):
        return f"{v!r}D"
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    return ("CAST('Infinity' AS DOUBLE)" if v > 0
            else "CAST('-Infinity' AS DOUBLE)")


def _pq_dist_sql(vec_col: str, codebooks: list) -> list:
    """Per subspace ``j``, the SQL of each codeword's squared L2
    distance to the ``j``-th slice of ``vec_col``: an all-double
    left-to-right ``aggregate(zip_with(...))`` fold with the codeword
    inlined as literals. The one distance builder of
    :func:`product_quantize` and :func:`pq_query_lut`. Built as SQL
    text, not Columns: a Column per codeword cost ~14 py4j round trips
    (embed_ivf_pq profiled at 17.6k round trips of driver latency),
    and the parsed tree is the same fold, a float's repr round-tripping
    to the same double literal."""
    dsub = len(codebooks[0][0])
    vec_sql = "`" + vec_col.replace("`", "``") + "`"
    d_sql = f"transform({vec_sql}, x -> CAST(x AS DOUBLE))"
    return [[f"aggregate(zip_with(slice({d_sql}, {j * dsub + 1}, {dsub}), "
             f"array({', '.join(_dbl_sql(c) for c in cw)}), "
             f"(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)"
             for cw in book]
            for j, book in enumerate(codebooks)]


def product_quantize(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    codebooks: list,
    out: str = "pq_codes",
    dist_out: Optional[str] = None,
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``m``
    subvectors, replace each with the index of its nearest codeword
    (squared L2), yielding ``array<int>`` codes — the IVF-PQ storage
    layout (Jégou et al., TPAMI 2011) that shrinks a 100 TB float
    embedding table ~100× while keeping ANN-searchable structure
    (:func:`quantize_embedding` is the orthogonal scalar-int8 path).

    ``codebooks`` is the nested ``m × k × dim/m`` list from
    :func:`pq_codebooks` (or trained elsewhere) and is inlined as
    column literals: the whole encode is ONE zero-shuffle projection in
    whole-stage codegen — m·k fold expressions per row, no join, no
    UDF, no Python. That contract bounds codebook size (k·dim literals;
    keep ≤ ~64k — for larger codebooks explode+broadcast-join instead).

    Arithmetic is all double (float inputs upcast exactly); ties pick
    the LOWEST codeword index (``array_position`` of the min), making
    codes a pure deterministic function of the vector — the property
    that lets the catalog query carry a full value oracle. With
    ``dist_out`` the per-subspace winning squared distance lands in a
    second ``array<double>`` column (the quantization-quality signal;
    summed it is the vector's total squared reconstruction error).
    """
    codes = []
    mins = []
    for terms in _pq_dist_sql(vec_col, codebooks):
        dists = F.expr("array(" + ", ".join(terms) + ")")
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
        mins.append(F.array_min(dists))
    # NULL vector -> NULL codes (not an array of NULL elements): the
    # array() constructor would otherwise wrap the NULL-propagated
    # per-subspace results
    notnull = F.col(vec_col).isNotNull()
    res = df.withColumn(out, F.when(notnull, F.array(*codes)))
    if dist_out is not None:
        res = res.withColumn(dist_out, F.when(notnull, F.array(*mins)))
    return res


def product_quantize_arrow(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    codebooks: list,
    out: str = "pq_codes",
    dist_out: Optional[str] = None,
) -> DataFrame:
    """Arrow-batched BLAS twin of :func:`product_quantize` for bulk
    encode jobs: ``mapInPandas`` + one :func:`_nearest` call per
    subspace per batch — measured
    ~3.6× the rows/s of the HOF path at the catalog codebook size
    (322k vs 90k rows/s, 400k×64-dim on local[32]; the gap widens with
    m·k, since interpreted higher-order-function folds pay
    per-row-per-codeword overhead while numpy pays per-batch). Same
    storage layout, same order — lowest index on a tie, a NaN distance
    above every other, so a NaN codeword loses to every finite one as
    it does under ``array_min``; the only divergence is float summation ORDER
    (numpy pairwise vs left-to-right), which can flip a code only on an
    exact distance tie between distinct codewords — degenerate for
    real-valued embeddings. The catalog/oracle path stays on the HOF
    twin for bit-exactness; use THIS one to encode a 100 TB table.

    NULL vectors yield NULL codes/dists. Partition-preserving — no
    shuffle; pair with ``plans.fan_out`` upstream if the input arrives
    in few splits."""
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   StructField, StructType)

    books = [[list(map(float, cw)) for cw in book] for book in codebooks]
    dsub = len(books[0][0])
    fields = list(df.schema.fields) + [
        StructField(out, ArrayType(IntegerType()))]
    if dist_out is not None:
        fields.append(StructField(dist_out, ArrayType(DoubleType())))
    schema = StructType(fields)

    def encode(batches):
        import numpy as np
        import pandas as pd

        cbs = [np.asarray(b, dtype=np.float64) for b in books]
        for pdf in batches:
            vecs = pdf[vec_col]
            mask = vecs.notna().to_numpy()
            codes = np.empty(len(pdf), dtype=object)
            dists = np.empty(len(pdf), dtype=object)
            if mask.any():
                x = np.asarray([np.asarray(v, dtype=np.float64)
                                for v in vecs[mask]])
                c_all = np.empty((x.shape[0], len(cbs)), dtype=np.int32)
                d_all = np.empty((x.shape[0], len(cbs)), dtype=np.float64)
                for j, cb in enumerate(cbs):
                    c_all[:, j], d_all[:, j], _ = _nearest(
                        x[:, j * dsub:(j + 1) * dsub], cb)
                # elementwise object assignment — a plain list-of-lists
                # on the masked index trips pandas/numpy 2-D broadcasting
                cv = np.empty(int(mask.sum()), dtype=object)
                cv[:] = [[int(v) for v in row] for row in c_all]
                codes[mask] = cv
                dv = np.empty(int(mask.sum()), dtype=object)
                dv[:] = [[float(v) for v in row] for row in d_all]
                dists[mask] = dv
            pdf = pdf.copy()
            pdf[out] = pd.Series(codes, index=pdf.index, dtype=object)
            if dist_out is not None:
                pdf[dist_out] = pd.Series(dists, index=pdf.index,
                                          dtype=object)
            yield pdf

    return df.mapInPandas(encode, schema)


def pq_decode(codes: Column, codebooks: list) -> Column:
    """Reconstruct the (lossy) vector from PQ codes by concatenating
    the selected codewords — the asymmetric-distance building block and
    the QA path (:func:`pq_reconstruction_error`)."""
    books = F.array(*[
        F.array(*[F.array(*[F.lit(float(v)) for v in cw]) for cw in book])
        for book in codebooks])
    return F.flatten(F.transform(
        codes,
        lambda c, j: F.element_at(F.element_at(books, j + 1), c + 1)))


def pq_reconstruction_error(
    vec: Column,
    codes: Column,
    codebooks: list,
) -> Column:
    """Mean squared reconstruction error of a PQ encoding — the rollout
    gate for a quantized embedding table (compare against the int8
    :func:`quantization_error` to pick a layout)."""
    d = F.transform(vec, lambda x: x.cast("double"))
    rec = pq_decode(codes, codebooks)
    return F.aggregate(
        F.zip_with(d, rec, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x) / F.size(d)


def pq_query_lut(
    vec: str,
    codebooks: list,
) -> Column:
    """Per-query asymmetric-distance lookup table for the column named
    ``vec``: a flat ``array<double>`` of ``m·k`` squared L2 distances
    from the query's ``j``-th subvector to every codeword of subspace
    ``j``, laid out ``lut[j*k + c]`` — computed ONCE per query, then
    every candidate's distance is just ``m`` array lookups
    (:func:`ivf_pq_topk`). Pure projection with inlined codebook
    literals, built by :func:`_pq_dist_sql` exactly as
    :func:`product_quantize` builds its distances: all-double
    left-to-right folds, so a DuckDB oracle reproduces every entry."""
    if not isinstance(vec, str):
        raise TypeError("pq_query_lut takes a column name")
    return F.expr("array(" + ", ".join(
        t for terms in _pq_dist_sql(vec, codebooks) for t in terms) + ")")


def ivf_pq_topk(
    corpus_encoded: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ approximate top-k with asymmetric distance computation —
    the billion-scale ANN architecture (Jégou et al., TPAMI 2011;
    FAISS ``IVFPQ``): the corpus is stored as PQ codes partitioned by
    IVF cell and is NEVER decoded. Per query: pick the ``nprobe``
    nearest centroids (cosine, the :func:`ivf_topk` rule), precompute
    the :func:`pq_query_lut` distance table, then score every candidate
    in the probed cells as ``Σ_j lut[j*k + code_j]`` — ``m`` array
    lookups and adds per candidate instead of a ``dim``-wide float dot
    product. Returns ``(query_id, neighbor_id, rank, adc)`` with rank
    by ascending approximate squared distance (ties → lowest id).

    Scale shape: the probe is :func:`ivf_topk`'s (:func:`_ivf_probe`,
    driver-side over the small query set), and the code table is read
    through ``centroid_id IN (probed cells)`` — with the corpus bucketed
    or partitioned by cell, partition pruning touches ``nprobe/C`` of
    the data. The (queries × nprobe) probe pairs, joined to each
    query's LUT, are broadcast; the only distributed work is one
    equi-join on ``centroid_id`` against the code table, and each
    candidate row carries ``m`` ints instead of ``dim`` floats (the
    ~100× I/O cut is the point at 100 TB). No UDF, no decode.
    NULL-coded rows (NULL input vectors) are skipped, and a query with
    no cosine (:func:`_unit_rows`) has no result.

    ``corpus_encoded`` needs ``(id_col, centroid_id, codes_col)`` —
    from :func:`product_quantize` (or the Arrow twin) over an
    :func:`assign_centroids` output. Recall QA: feed this and
    :func:`cosine_topk` to :func:`recall_at_k`, exactly like the plain
    IVF path.
    """
    from ..plans import local_frame

    kcw = len(codebooks[0])
    ids, _, probes, cand = _ivf_probe(
        corpus_encoded, centroids, queries, id_col=id_col, vec_col=vec_col,
        nprobe=nprobe)
    id_t = queries.schema[id_col].dataType.simpleString()
    cid_t = centroids.schema["centroid_id"].dataType.simpleString()
    pairs = local_frame(
        queries.sparkSession,
        [(q, c) for q, cells in zip(ids.tolist(), probes.tolist())
         for c in cells],
        f"query_id {id_t}, centroid_id {cid_t}")
    # the LUT is computed in Spark, so its folds stay the oracle's
    lut = queries.select(
        F.col(id_col).alias("query_id"),
        pq_query_lut(vec_col, codebooks).alias("__lut"))
    c = cand.select(
        F.col(id_col).alias("neighbor_id"), "centroid_id",
        F.col(codes_col).alias("__codes")).filter(
        F.col("__codes").isNotNull())
    joined = (c.join(F.broadcast(pairs.join(lut, "query_id")),
                     on="centroid_id")
              .filter(F.col("neighbor_id") != F.col("query_id")))
    adc = F.aggregate(
        F.transform(F.col("__codes"),
                    lambda code, j: F.element_at(F.col("__lut"),
                                                 j * kcw + code + 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = joined.select("query_id", "neighbor_id", adc.alias("adc"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
    iters: int = 1,
) -> DataFrame:
    """Lloyd iterations over an IVF codebook: assign → per-cell mean.

    The per-cell mean is a grouped-map ``applyInPandas``: each centroid's
    member vectors arrive as one Arrow batch and the new centroid is a
    single numpy ``mean(axis=0)`` — the idiomatic grouped-map use-case
    (array-of-float math that per-dimension SQL aggregates would turn
    into dim-wide plans; train_centroids_df's sum-per-dimension is kept
    for the UDF-free path). State per group is one vector; shuffle is
    keyed by centroid_id, so cells balance as well as the data does. A
    vector with no cosine gets a NULL centroid_id from
    :func:`assign_centroids` and joins no cell mean.
    """
    import numpy as np  # noqa: F401 — imported for the worker closure
    import pandas as pd  # noqa: F401

    def _cell_mean(key, pdf):
        import numpy as _np
        import pandas as _pd

        m = _np.stack(pdf[vec_col].values).mean(axis=0).astype("float32")
        return _pd.DataFrame({"centroid_id": [key[0]],
                              "centroid": [m.tolist()]})

    # centroid_id type mirrors the codebook — string-labeled codebooks
    # from train_centroids_df(by_col=...) are supported throughout the
    # module (same derivation as semdedup_pairs)
    cid_t = centroids.schema["centroid_id"].dataType.simpleString()
    out = centroids
    for _ in range(max(0, iters)):
        assigned = assign_centroids(corpus, out, vec_col=vec_col)
        out = assigned.filter(F.col("centroid_id").isNotNull()).select(
            "centroid_id", vec_col).groupBy(
            "centroid_id").applyInPandas(
                _cell_mean, f"centroid_id {cid_t}, centroid array<float>")
    return out


def assignment_quality(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
) -> float:
    """Mean cosine similarity of each vector to its assigned centroid —
    the objective kmeans_refine improves; exposed for codebook QA.

    One map-only Arrow pass: each batch's unit rows (:func:`_unit_rows`,
    the normalisation :func:`assign_centroids` uses) against the unit
    codebook, reduced to per-batch ``(n, Σ best cosine)`` partials and
    summed driver-side — no join, no groupBy over corpus rows (which
    would also collapse duplicate rows and mis-weight the mean). A
    vector with no cosine is left out of the mean; NaN when no vector
    or no centroid is usable."""
    import pandas as pd

    _, c_unit = _codebook_units(centroids)

    def _partials(it):
        for pdf in it:
            _, _, x = _unit_rows(pdf, vec_col)
            if len(x) and len(c_unit):
                yield pd.DataFrame({
                    "n": [len(x)],
                    "s": [float((x @ c_unit.T).max(axis=1).sum())]})

    parts = (corpus.select(vec_col)
             .mapInPandas(_partials, "n long, s double").collect())
    n = sum(p["n"] for p in parts)
    return sum(p["s"] for p in parts) / n if n else math.nan


def mean_pool(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    *,
    normalize: bool = False,
) -> DataFrame:
    """Elementwise mean of vectors per group — chunk→document embedding
    pooling (the aggregation half of a chunk/embed/pool pipeline).

    posexplode → groupBy(group, position) → avg → re-assemble sorted:
    two keyed, map-combined aggregations whose shuffle carries one
    (group, pos, sum, count) row per dimension — never a whole vector
    list in memory, unlike ``collect_list``-then-reduce, so a group with
    a million chunks pools in O(dim) state. ``normalize=True`` L2-scales
    the pooled vector (guarded against zero norm).

    Returns (group_col, n_vectors, pooled) with ``pooled`` array<float>.
    """
    ex = df.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("_pos", "_v"))
    per_dim = ex.groupBy(group_col, "_pos").agg(
        F.avg("_v").alias("_m"), F.count(F.lit(1)).alias("_n"))
    pooled = (
        per_dim.groupBy(group_col)
        .agg(F.array_sort(F.collect_list(F.struct("_pos", "_m")))
             .alias("_pm"),
             F.max("_n").alias("n_vectors"))
        .select(
            F.col(group_col), F.col("n_vectors"),
            F.transform(F.col("_pm"), lambda s: s["_m"].cast("float"))
            .alias("pooled"))
    )
    if not normalize:
        return pooled
    nrm = _norm(F.col("pooled"))
    unit = F.transform(
        F.col("pooled"),
        lambda v: F.when(nrm > 0, v.cast("double") / nrm)
                   .otherwise(F.lit(0.0)).cast("float"))
    return pooled.select(group_col, "n_vectors", unit.alias("pooled"))


def semdedup_pairs(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    chunk: int = _CHUNK,
) -> DataFrame:
    """Within-cluster near-duplicate pairs — the candidate step of
    SemDeDup (Abbas et al. 2023, arXiv:2303.09540): assign every vector
    to its nearest centroid, then compare ONLY vectors sharing a cell.

    Scale shape: assignment is a single scan against a broadcast
    centroid table (:func:`assign_centroids`); the pair search is the
    module's pair kernel per groupBy(centroid_id) group, in one grouped
    ``applyInPandas``, tiled to ``chunk``² doubles — compute O(Σ cell²) instead of
    the O(n²) of exact all-pairs, shuffle O(n) rows, nothing collected
    to the driver. Cell sizes must stay task-sized: grow
    ``num_centroids`` with the corpus (n/k rows per cell on average),
    exactly like ``planes_per_table`` in
    :func:`bucketed_near_duplicate_pairs`. Cosine values are exact
    (recomputed in float64); only candidate *selection* is clustered, so
    cross-cluster near-dups are invisible by design — that is the
    SemDeDup trade.

    Returns (id_a, id_b, centroid_id, cosine), id_a < id_b — the id and
    centroid_id types MIRROR the inputs (string-labeled codebooks from
    e.g. ``train_centroids_df`` over string labels work; the output
    schema is derived, not hardcoded to long). If ``df`` already
    carries a ``centroid_id`` column the assignment scan is skipped
    (how :func:`semdedup` avoids assigning twice). A row with a NULL
    vector is in no pair.
    """
    if "centroid_id" in df.columns:
        assigned = df.select(id_col, vec_col, "centroid_id")
    else:
        assigned = assign_centroids(
            df.select(id_col, vec_col), centroids, vec_col=vec_col)
    return _grouped_pairs(assigned, ["centroid_id"], id_col=id_col,
                          vec_col=vec_col, threshold=threshold, chunk=chunk,
                          carry=("centroid_id",))


def semdedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    centroids: Optional[DataFrame] = None,
    num_centroids: int = 16,
    by_col: Optional[str] = None,
    chunk: int = _CHUNK,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, arXiv:2303.09540): cluster the
    embedding space, then drop every vector that has a LOWER-id neighbor
    at cosine >= ``threshold`` inside its own cluster — the deterministic
    keep-one rule the released SemDeDup recipe uses (keep the first
    example of each ε-similar group; lowest id stands in for "first").

    Deterministic end-to-end when ``centroids``/``by_col`` are
    deterministic (e.g. :func:`train_centroids_df` per-label means), so
    the whole pipeline carries a full value oracle despite being an
    approximation of exact near-dup removal. Pass a refined codebook
    from :func:`kmeans_refine` for better cells at the same cost.

    Returns the kept rows: all original columns + ``centroid_id``. A row
    with a NULL vector is in no pair, so it is kept (with a NULL
    ``centroid_id``).
    """
    from pyspark.storagelevel import StorageLevel

    cents = centroids if centroids is not None else train_centroids_df(
        df, vec_col=vec_col, by_col=by_col, num_centroids=num_centroids)
    # `assigned` feeds BOTH the pair search (groupBy exchange) and the
    # keep side of the anti-join; without a persist the full scan +
    # Arrow assignment pass ran twice (r16 profile: two ~10-15 task-s
    # jobs per warm run). A LAZY persist is enough — the first
    # consumer's materialization populates the cache exactly once
    # (accumulator-proven in the r16 ledger). Deliberately NOT
    # release-on-gc: the common ``semdedup(df).select(...)`` shape
    # drops the pinned frame before the action runs, and the cache
    # died exactly when it was needed (measured — the anti-join side
    # re-read the exchange). Session-lifetime cache like term_weights'
    # tf: released by spark.catalog.clearCache() or session stop.
    assigned = (assign_centroids(df, cents, vec_col=vec_col)
                .persist(StorageLevel.MEMORY_AND_DISK))
    pairs = semdedup_pairs(
        assigned, cents, id_col=id_col, vec_col=vec_col,
        threshold=threshold, chunk=chunk)
    # no .distinct() on the removal side: left_anti ignores right-side
    # duplicates, so deduping first would only add a shuffle
    removed = pairs.select(F.col("id_b").alias(id_col))
    return assigned.join(removed, id_col, "left_anti")


def recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    *,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate neighbor result against the
    exact ground truth: |approx ∩ exact| / |exact| for each query — the
    standard ANN quality gate (run on a sampled query set before
    trusting an IVF/LSH index for corpus-scale retrieval). Both inputs
    are (query, neighbor) frames, e.g. :func:`cosine_topk` (exact) vs
    :func:`ivf_topk` / :func:`ivf_pq_topk` (approximate).

    Emits (query, n_exact, n_matched, recall). Scale shape: every frame
    here is (queries x k)-sized — evaluation-sized, never corpus-sized —
    so the intersection join and both groupBys ride one small shuffle;
    queries with zero approximate hits still appear (left join, 0-fill).
    """
    e = exact.select(query_col, neighbor_col)
    a = approx.select(query_col, neighbor_col)
    totals = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    matched = (
        e.join(a, [query_col, neighbor_col])
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        totals.join(matched, query_col, "left")
        .select(
            F.col(query_col),
            F.col("n_exact"),
            F.coalesce(F.col("n_matched"), F.lit(0)).alias("n_matched"),
            (F.coalesce(F.col("n_matched"), F.lit(0)) * F.lit(1.0)
             / F.col("n_exact")).alias("recall"),
        )
    )


def standardize(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    out_col: str = "standardized",
) -> DataFrame:
    """Per-DIMENSION z-score normalization of an embedding column —
    (v[i] − μ_i) / σ_i with population σ — the feature-scaling step
    before distance-based work (kmeans codebooks, norm-outlier
    screens) when dimensions carry wildly different scales; constant
    dimensions (σ_i = 0) map to 0.0 instead of NaN.

    Scale shape: the corpus-wide per-dimension moments come from ONE
    posexplode + groupBy(position) aggregate — map-side combined, dim
    rows of state, never a vector list — then collapse to a single
    (μ[], σ[]) row broadcast back, and the normalization itself is a
    zero-shuffle arrays_zip/transform codegen projection (same
    broadcast-stats shape as ``zorder_write``'s grid normalization).

    Returns ``df`` + ``out_col`` (array<double>).
    """
    ex = df.select(F.posexplode(F.col(vec_col)).alias("_pos", "_v"))
    per_dim = ex.groupBy("_pos").agg(
        F.avg("_v").alias("_mu"), F.stddev_pop("_v").alias("_sd"))
    stats = per_dim.agg(
        F.array_sort(F.collect_list(F.struct("_pos", "_mu", "_sd")))
        .alias("_st")).select(
            F.transform("_st", lambda s: s["_mu"]).alias("__mu"),
            F.transform("_st", lambda s: s["_sd"]).alias("__sd"))
    z = F.transform(
        F.arrays_zip(F.col(vec_col).cast("array<double>").alias("v"),
                     F.col("__mu").alias("m"), F.col("__sd").alias("s")),
        lambda x: F.when(x["s"] > 0, (x["v"] - x["m"]) / x["s"])
                   .otherwise(F.lit(0.0)))
    # ragged guard: arrays_zip would silently NULL-pad a short vector
    # against the corpus-max-dim stats — fail loudly instead of handing
    # downstream BLAS a wrong-length array. NULL vectors stay NULL
    # (size(NULL) is NULL and would otherwise fall into the error
    # branch with a misleading 'ragged' message)
    guarded = (
        F.when(F.col(vec_col).isNull(),
               F.lit(None).cast("array<double>"))
        .when(F.size(F.col(vec_col)) == F.size("__mu"), z)
        .otherwise(F.expr(
            "raise_error('standardize: embedding length differs from "
            "the corpus dimension (ragged vectors)')")))
    return (df.crossJoin(F.broadcast(stats))
            .withColumn(out_col, guarded)
            .drop("__mu", "__sd"))


def standardized_norm_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 2.0,
    out_col: str = "rms_z",
    flag_col: str = "is_outlier",
) -> DataFrame:
    """Diagonal-Mahalanobis embedding outlier screen: per-dimension
    z-score the vectors (:func:`standardize`), then score each vector
    by its RMS z-value ``sqrt(mean_i z_i²)`` and flag scores above
    ``threshold``. Unlike :func:`norm_outliers` (raw L2 norm), this is
    scale-equivariant per dimension — a vector can only look extreme by
    being extreme relative to each dimension's own spread, so one
    high-variance dimension can't dominate the screen. For roughly
    Gaussian embeddings RMS-z concentrates near 1; ``threshold=2``
    flags vectors whose average squared deviation is 4x the norm.

    Returns (id, rms_z, flag); NULL vectors keep NULL score and flag.

    Scale shape: inherits standardize's ONE posexplode moment pass +
    broadcast (μ[], σ[]) row; the scoring fold is a zero-shuffle
    codegen projection — no second pass over the corpus.
    """
    z = standardize(df.select(id_col, vec_col), vec_col=vec_col,
                    out_col="__z")
    ssq = F.aggregate("__z", F.lit(0.0),
                      lambda acc, v: acc + v * v)
    rms = F.sqrt(ssq / F.size("__z"))
    return (z.withColumn(out_col, rms)
            .withColumn(flag_col, F.col(out_col) > F.lit(float(threshold)))
            .select(id_col, out_col, flag_col))


def _corpus_moments(df: DataFrame, vec_col: str):
    """Corpus (n, μ, population covariance) of a vector column from ONE
    Arrow-batched ``mapInPandas`` pass: per-batch partials are
    (n, Σx, XᵀX) — (d²+d+1) floats per batch, dims-scale not
    corpus-scale — reduced driver-side. Shared by :func:`whiten` and
    :func:`whiten_check`. Raises on an all-NULL corpus or ragged
    vector lengths."""
    import numpy as np
    import pandas as pd

    from ..plans import fan_out

    def _partials(it):
        for pdf in it:
            vs = pdf[vec_col].dropna()
            if not len(vs):
                continue
            try:
                x = np.stack(vs.to_numpy()).astype(np.float64)
            except ValueError as exc:
                raise ValueError(
                    "whiten: embedding lengths differ within the corpus "
                    "(ragged vectors)") from exc
            yield pd.DataFrame({
                "n": [int(x.shape[0])],
                "d": [int(x.shape[1])],
                "s": [x.sum(axis=0).tolist()],
                "xtx": [(x.T @ x).ravel().tolist()],
            })

    parts = (fan_out(df.select(vec_col))
             .mapInPandas(_partials,
                          "n long, d long, s array<double>, "
                          "xtx array<double>").collect())
    return _reduce_moment_parts(parts)


def _reduce_moment_parts(parts):
    """Driver-side reduce of (n, d, Σx, XᵀX) moment partials to
    (n, μ, population covariance) — shared by :func:`_corpus_moments`
    and :func:`_transformed_moments` so the two passes can never
    drift in summation semantics."""
    import numpy as np

    if not parts:
        raise ValueError("whiten: no non-NULL vectors in input")
    dims = {p["d"] for p in parts}
    if len(dims) > 1:
        raise ValueError(
            "whiten: embedding lengths differ within the corpus "
            f"(ragged vectors: dims {sorted(dims)})")
    d = dims.pop()
    n = sum(p["n"] for p in parts)
    s = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    xtx = np.sum([np.asarray(p["xtx"]).reshape(d, d) for p in parts],
                 axis=0)
    mu = s / n
    cov = xtx / n - np.outer(mu, mu)
    return n, mu, cov


def _transformed_moments(df: DataFrame, vec_col: str, mu, w):
    """Corpus (n, mean, population covariance) of the TRANSFORMED
    column ``(x − μ)·W`` from ONE Arrow-batched ``mapInPandas`` pass —
    the fused twin of ``_apply_whitening`` + ``_corpus_moments`` for
    the check operators (:func:`whiten_check` / :func:`pca_check`).

    r16 (guide §4.1): the unfused chain ran TWO chained Python evals in
    one stage — every task held two Python workers (the warmed pool
    covers one per core, so the second eval cold-spawned a worker —
    ~2 s/task of off-CPU wait in the job profile: 68 task-s at 1.6
    cpu-s) and paid JVM→PY→JVM→PY→JVM Arrow transits for the full
    whitened corpus plus every carried-through column. Fused, the
    whitened vectors never leave Python, only ``vec_col`` is shipped,
    and each task runs one worker. Batch boundaries, per-batch float
    ops and the driver reduce are identical to the unfused chain, so
    the moments are bit-identical (the oracle-equality contract)."""
    import numpy as np
    import pandas as pd

    from ..plans import fan_out

    get_mw = _broadcast_or_capture(df.sparkSession, (mu, w))

    def _partials(it):
        mu_b, w_b = get_mw()
        for pdf in it:
            vs = pdf[vec_col].dropna()
            if not len(vs):
                continue
            try:
                x = np.stack(vs.to_numpy()).astype(np.float64)
            except ValueError as exc:
                raise ValueError(
                    "whiten: embedding lengths differ within the corpus "
                    "(ragged vectors)") from exc
            if x.shape[1] != len(mu_b):
                raise ValueError(
                    "whiten: embedding length differs from the "
                    "corpus dimension (ragged vectors)")
            z = (x - mu_b) @ w_b
            yield pd.DataFrame({
                "n": [int(z.shape[0])],
                "d": [int(z.shape[1])],
                "s": [z.sum(axis=0).tolist()],
                "xtx": [(z.T @ z).ravel().tolist()],
            })

    parts = (fan_out(df.select(vec_col))
             .mapInPandas(_partials,
                          "n long, d long, s array<double>, "
                          "xtx array<double>").collect())
    return _reduce_moment_parts(parts)


def whiten(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    eps: float = 1e-6,
    out_col: str = "whitened",
) -> DataFrame:
    """ZCA whitening of an embedding column: rotate + rescale so the
    output's empirical covariance is the identity —
    ``W = U diag(1/sqrt(λ+eps)) U^T`` from the eigendecomposition of
    the corpus covariance, applied as ``(x − μ)·W``. The full-matrix
    upgrade of :func:`standardize` (which only fixes the diagonal):
    correlated dimensions get decorrelated, so cosine/L2 near-dup
    screens stop over-counting directions the embedding model happens
    to duplicate. ZCA (vs PCA) keeps the output in the ORIGINAL basis —
    whitened vectors stay interpretable dimension-for-dimension.

    Scale shape: ONE Arrow-batched ``mapInPandas`` pass emits per-batch
    moment partials (n, Σx, XᵀX — (d²+d+1) floats per batch, dims not
    corpus); the d×d eigendecomposition runs driver-side in numpy
    (microseconds for embedding-sized d); (μ, W) broadcast back and the
    transform is a second map-only BLAS pass that carries every input
    column through — zero shuffles end to end. NULL vectors pass
    through NULL; a ragged vector fails loudly with 'ragged'.

    ``eps`` floors near-zero eigenvalues (constant/near-constant
    directions) instead of exploding them — those directions come out
    ~zero, matching standardize's σ=0 → 0.0 convention.
    """
    import numpy as np

    _, mu, cov = _corpus_moments(df, vec_col)
    lam, u = np.linalg.eigh(cov)
    w = (u * (1.0 / np.sqrt(np.maximum(lam, 0.0) + eps))) @ u.T
    return _apply_whitening(df, mu, w, vec_col, out_col)


def pca_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_components: int = 16,
    out_col: str = "pca",
) -> DataFrame:
    """PCA projection of an embedding column onto its top
    ``n_components`` principal directions — the standard
    embedding-compression step (decorrelated like :func:`whiten`, but
    REDUCING dimensions instead of preserving the basis; the
    int8/PQ quantizers downstream work on fewer, higher-variance
    dims). Output dimension j carries the j-th largest-variance
    direction; projected dims are uncorrelated with variances equal to
    the eigenvalues.

    Deterministic without an RNG anywhere, including the
    eigenvector-sign ambiguity: each component is flipped so its
    largest-|coordinate| entry is positive (ties to the lowest
    index), so reruns and engines agree on more than just absolute
    values. Equal eigenvalues order by descending eigenvalue then
    ascending original eigh index.

    Scale shape: identical to :func:`whiten` — one Arrow-batched
    moments pass ((d²+d+1) floats per batch), a d×d driver-side
    eigendecomposition, then one map-only BLAS pass applying
    ``(x − μ)·C`` with the d×m component matrix broadcast. Zero
    shuffles; NULL vectors pass through NULL; ragged vectors fail
    loudly."""
    if n_components < 1:
        raise ValueError("n_components must be >= 1")
    _, mu, cov = _corpus_moments(df, vec_col)
    comps = _pca_components(cov, n_components)
    return _apply_whitening(df, mu, comps, vec_col, out_col)


def _pca_components(cov, n_components: int):
    """Top-m sign-deterministic principal components of a covariance
    matrix (the d×m matrix :func:`pca_project` applies) — factored out
    so :func:`pca_check` audits the EXACT matrix the projection uses."""
    import numpy as np

    d = cov.shape[0]
    m = min(n_components, d)
    lam, u = np.linalg.eigh(cov)
    order = np.argsort(-lam, kind="stable")[:m]
    comps = u[:, order]
    flip = np.sign(comps[np.abs(comps).argmax(axis=0),
                         np.arange(m)])
    flip[flip == 0] = 1.0
    return comps * flip


def _apply_whitening(df: DataFrame, mu, w, vec_col: str,
                     out_col: str) -> DataFrame:
    """Broadcast (μ, W) and apply ``(x − μ)·W`` as a map-only
    Arrow-batched BLAS pass carrying every input column through."""
    import numpy as np
    import pandas as pd

    from ..plans import fan_out

    get_mw = _broadcast_or_capture(df.sparkSession, (mu, w))
    fields = df.schema.fields
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in fields]
        + [f"{out_col} array<double>"])

    def _apply(it):
        mu_b, w_b = get_mw()
        for pdf in it:
            col = pdf[vec_col]
            mask = col.notna()
            outv = pd.Series([None] * len(pdf), dtype=object)
            if mask.any():
                x = np.stack(col[mask].to_numpy()).astype(np.float64)
                if x.shape[1] != len(mu_b):
                    raise ValueError(
                        "whiten: embedding length differs from the "
                        "corpus dimension (ragged vectors)")
                z = (x - mu_b) @ w_b
                outv[np.flatnonzero(mask.to_numpy())] = list(
                    map(list, z))
            pdf = pdf.copy()
            pdf[out_col] = outv
            yield pdf

    return fan_out(df).mapInPandas(_apply, out_schema)


def whiten_check(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    eps: float = 1e-6,
    mu_digits: int = 4,
    cov_digits: int = 3,
) -> DataFrame:
    """Driver-gateable whitening invariants (r8 verdict task 4): the
    eigendecomposition inside :func:`whiten` has no SQL twin, but its
    DEFINING properties do. One row per dimension ``pos`` with

    - ``mu``/``sd`` — the raw corpus per-dimension mean and population
      stddev as measured by the SAME distributed moments pass whiten
      consumes (a SQL engine recomputes these exactly from the parquet,
      gating the partials/reduce machinery), and
    - ``diag_dev``/``offdiag_max``/``mean_dev`` — how far the WHITENED
      corpus is from covariance = identity, mean = 0: |cov_w[i,i]−1|,
      max_j≠i |cov_w[i,j]|, |mean_w[i]|, all mathematically forced to 0
      at the rounding precision (eps=1e-6 floors eigenvalues ≥1e-3 of
      typical embedding variance, so λ/(λ+eps) ≈ 1 to ≪ 0.5·10^-3).

    Scale shape: two moment passes (raw, then a FUSED whiten+moments
    pass — each one map-only mapInPandas job reducing dims-scale
    partials; the whitened vectors never re-cross the Python boundary,
    r16) — zero shuffles; the d-row report is dims-scale, assembled
    driver-side like a BPE vocab or PQ codebook. The applied math is
    the same ``(x − μ)·W`` as :func:`whiten`; the transform CODE path
    itself is separately gated by the embed_whiten entry and pytest."""
    import numpy as np

    spark = df.sparkSession
    _, mu, cov = _corpus_moments(df, vec_col)
    sd = np.sqrt(np.maximum(np.diag(cov), 0.0))
    lam, u = np.linalg.eigh(cov)
    w = (u * (1.0 / np.sqrt(np.maximum(lam, 0.0) + eps))) @ u.T
    # r16: fused transform+moments pass (see _transformed_moments) —
    # one Python eval instead of two chained ones, vec_col only
    _, mean_w, cov_w = _transformed_moments(df, vec_col, mu, w)
    d = len(mu)
    dev = np.abs(cov_w - np.eye(d))
    offdiag = dev.copy()
    np.fill_diagonal(offdiag, 0.0)
    # +0.0 folds IEEE -0.0 (round of a tiny negative mean) to +0.0 so the
    # value oracle's round(avg(v), n) + 0.0 convention matches bit-for-bit.
    rows = [(int(i),
             float(round(mu[i], mu_digits)) + 0.0,
             float(round(sd[i], mu_digits)) + 0.0,
             float(round(dev[i, i], cov_digits)) + 0.0,
             float(round(offdiag[i].max(), cov_digits)) + 0.0,
             float(round(abs(mean_w[i]), mu_digits)) + 0.0)
            for i in range(d)]
    from ..plans import local_frame
    return local_frame(
        spark, rows, "pos int, mu double, sd double, diag_dev double, "
                     "offdiag_max double, mean_dev double")


def pca_check(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_components: int = 16,
    mu_digits: int = 4,
    cov_digits: int = 3,
) -> DataFrame:
    """Driver-gateable PCA invariants (r10 verdict task 2; the
    :func:`whiten_check` recipe applied to :func:`pca_project`): the
    eigendecomposition has no SQL twin, but the DEFINING properties of
    a correct projection do. One row per ORIGINAL dimension ``pos``
    with

    - ``mu``/``sd`` — the raw corpus per-dimension mean and population
      stddev as measured by the SAME distributed moments pass
      pca_project consumes (a SQL engine recomputes these exactly from
      the parquet, gating the partials/reduce machinery), and
    - for ``pos < n_components``, invariants of the PROJECTED corpus
      (re-measured by a SECOND distributed moments pass applying the
      same ``(x − μ)·C`` math — fused with the moments since r16; the
      pca_project code path itself is gated by embed_pca + pytest), all
      mathematically forced to 0 at the rounding precision:
      ``mean_dev`` = |mean(proj_pos)| (projection of centered data has
      exact zero mean), ``offdiag_max`` = max_{j≠pos} |cov(proj_pos,
      proj_j)| (components are eigenvectors — projected dims are
      uncorrelated), ``order_dev`` = max(0, var(proj_pos) −
      var(proj_{pos−1})) (variances are the eigenvalues in DESCENDING
      order). Rows at ``pos >= n_components`` carry literal 0.0 —
      the schema stays one-row-per-dimension like whiten_check so the
      raw-moment gate covers every input dimension.

    Scale shape: two moment passes (raw, then a FUSED project+moments
    pass — each one map-only Arrow mapInPandas job reducing dims-scale
    partials; projected vectors never re-cross the Python boundary,
    r16) — zero shuffles; the d-row report is dims-scale, assembled
    driver-side like a BPE vocab or PQ codebook.
    """
    import numpy as np

    spark = df.sparkSession
    _, mu, cov = _corpus_moments(df, vec_col)
    sd = np.sqrt(np.maximum(np.diag(cov), 0.0))
    comps = _pca_components(cov, n_components)
    # r16: fused transform+moments pass (see _transformed_moments) —
    # one Python eval instead of two chained ones, vec_col only
    _, mean_p, cov_p = _transformed_moments(df, vec_col, mu, comps)
    d = len(mu)
    m = len(mean_p)
    var_p = np.diag(cov_p)
    offdiag = np.abs(cov_p.copy())
    np.fill_diagonal(offdiag, 0.0)
    # +0.0 folds IEEE -0.0 (round of a tiny negative) to +0.0 so the
    # value oracle's round(avg(v), n) + 0.0 convention matches
    # bit-for-bit (the whiten_check precedent).
    rows = []
    for i in range(d):
        if i < m:
            mean_dev = float(round(abs(mean_p[i]), mu_digits)) + 0.0
            off_max = (float(round(offdiag[i, :].max(), cov_digits))
                       + 0.0) if m > 1 else 0.0
            order_dev = (float(round(max(0.0, var_p[i] - var_p[i - 1]),
                                     cov_digits)) + 0.0) if i > 0 else 0.0
        else:
            mean_dev = off_max = order_dev = 0.0
        rows.append((int(i),
                     float(round(mu[i], mu_digits)) + 0.0,
                     float(round(sd[i], mu_digits)) + 0.0,
                     mean_dev, off_max, order_dev))
    from ..plans import local_frame
    return local_frame(
        spark, rows, "pos int, mu double, sd double, mean_dev double, "
                     "offdiag_max double, order_dev double")


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pool: int = 20,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998) — the retrieval-result diversifier: per query,
    greedily select ``k`` results maximizing ``λ·sim(q, c) − (1−λ)·
    max_{s∈selected} sim(c, s)`` so near-duplicate hits don't crowd
    the slate (eval-set construction, RAG context packing, demo-set
    sampling all want this over plain top-k). ``lam=1`` degenerates to
    plain relevance ranking; lower values trade relevance for
    diversity. Returns ``(query_id, neighbor_id, position, relevance,
    mmr_score)`` — position 1 is the pure-relevance argmax (the
    standard MMR initialization), later positions carry the penalized
    score they won with.

    Deterministic: every argmax breaks ties by (score desc, neighbor
    id asc); no RNG anywhere.

    Scale shape: the classic two-phase layout — :func:`cosine_topk`
    cuts each query's candidate POOL (``pool`` >= k; one broadcast-
    query BLAS scan of the corpus, the only corpus-sized work), then
    everything downstream is bounded by queries × pool: ONE query-keyed
    self-join computes the pool's pairwise similarities (queries ×
    pool² rows, JVM-side fold dot products), and each of the k greedy
    steps is an anti-join + a selected-set max + a rank-1 window over
    that bounded frame. k is a fixed small constant by contract, so
    the unrolled plan stays k-linear — enforced by ``localCheckpoint``
    lineage cuts on the pool/pair frames (once) and the growing
    selected frame (per step), the same convention pagerank/hits/
    lloyd_kmeans use. The greedy scan never touches the corpus again —
    at 100 TB the cost is the one broadcast scan cosine_topk already
    pays.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    if k < 1 or pool < k:
        raise ValueError("need 1 <= k <= pool")
    cand = cosine_topk(corpus, queries, id_col=id_col, vec_col=vec_col,
                       k=pool)
    vecs = corpus.select(F.col(id_col).alias("__vid"),
                         F.col(vec_col).alias("__v"))
    # lineage cut (the pagerank/hits convention for iterative ops):
    # without it every greedy step's anti-join/penalty subtree roots at
    # the corpus-scan cosine_topk and the final plan embeds O(k²)
    # copies of it — "never touches the corpus again" must hold by
    # construction, not by hoping for exchange reuse
    cv = (cand.join(vecs, cand["neighbor_id"] == vecs["__vid"])
          .select("query_id", "neighbor_id", "cosine", "__v")
          .localCheckpoint(eager=False))
    a = cv.select(F.col("query_id").alias("__q"),
                  F.col("neighbor_id").alias("__ca"),
                  F.col("__v").alias("__va"))
    b = cv.select(F.col("query_id").alias("__q"),
                  F.col("neighbor_id").alias("__cb"),
                  F.col("__v").alias("__vb"))
    da, db = F.col("__va").cast("array<double>"), \
        F.col("__vb").cast("array<double>")
    psim = (_dot(da, db) / (_norm(da) * _norm(db))).alias("__ps")
    pairs = (a.join(b, "__q")
             .filter(F.col("__ca") != F.col("__cb"))
             .select("__q", "__ca", "__cb", psim)
             .localCheckpoint(eager=False))
    pool_df = cv.select(F.col("query_id").alias("__q"),
                        F.col("neighbor_id").alias("__c"),
                        F.col("cosine").alias("__rel"))
    # greedy unrolled: selected accumulates (query, id, position, score)
    w = Window.partitionBy("__q").orderBy(F.col("__score").desc(),
                                          F.col("__c").asc())
    first = (pool_df.withColumn("__score", F.lit(float(lam)) * F.col("__rel"))
             .withColumn("__rk", F.row_number().over(w))
             .filter(F.col("__rk") == 1)
             .select("__q", "__c", "__rel", "__score",
                     F.lit(1).alias("position")))
    selected = first
    for step in range(2, k + 1):
        remaining = pool_df.join(selected.select("__q", "__c"),
                                 ["__q", "__c"], "left_anti")
        # penalty = max pairwise sim from each remaining candidate to
        # the selected set: route through the precomputed pair table
        # on (query, candidate, selected) — bounded by queries × pool²
        pen = (remaining
               .join(selected.select(F.col("__q").alias("__qs"),
                                     F.col("__c").alias("__cs")),
                     (F.col("__q") == F.col("__qs")))
               .join(pairs.select(F.col("__q").alias("__qp"),
                                  F.col("__ca").alias("__cp"),
                                  F.col("__cb").alias("__csp"), "__ps"),
                     (F.col("__q") == F.col("__qp"))
                     & (F.col("__c") == F.col("__cp"))
                     & (F.col("__cs") == F.col("__csp")))
               .groupBy("__q", "__c", "__rel")
               .agg(F.max("__ps").alias("__pen")))
        nxt = (pen.withColumn(
                   "__score",
                   F.lit(float(lam)) * F.col("__rel")
                   - F.lit(1.0 - float(lam)) * F.col("__pen"))
               .withColumn("__rk", F.row_number().over(w))
               .filter(F.col("__rk") == 1)
               .select("__q", "__c", "__rel", "__score",
                       F.lit(step).alias("position")))
        # selected union-grows each step — cut per round so step s+1's
        # anti-join doesn't re-derive all s prior argmax subtrees
        selected = (selected.unionByName(nxt)
                    .localCheckpoint(eager=False))
    return selected.select(
        F.col("__q").alias("query_id"),
        F.col("__c").alias("neighbor_id"),
        "position",
        F.col("__rel").alias("relevance"),
        F.col("__score").alias("mmr_score"))


def reciprocal_rank_fusion(
    rankings: DataFrame,
    query_col: str = "query_id",
    item_col: str = "item_id",
    rank_col: str = "rank",
    *,
    k: int = 60,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. SIGIR'09) — combine
    multiple per-query rankings into one: each (query, item, rank) row
    from ANY ranker contributes ``1/(k + rank)`` and the fused score is
    the per-item sum. The standard zero-tuning way to fuse lexical +
    embedding + recency rankers: rank-based, so incomparable raw
    scores never meet, and ``k`` (60 in the paper) damps the head so
    one ranker's #1 can't drown out broad agreement. Input is
    LONG-form — stack every ranker's output with ``unionByName``; an
    item absent from a ranker simply contributes nothing (the RRF
    convention). Returns ``(query, item, rrf_score, fused_rank)`` with
    ties broken by item id ascending; ``top_k`` optionally cuts each
    fused list.

    Scale shape: ONE (query, item)-keyed map-side-combined sum + one
    per-query rank window over the fused (already deduplicated)
    candidates — no joins at all; 100 TB of ranker output shuffles
    once on its natural key. NULL ranks are rejected loudly (a silent
    skip would quietly re-weight rankers).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    q, it, r = F.col(query_col), F.col(item_col), F.col(rank_col)
    bad = rankings.filter(r.isNull() | (r < 1)).limit(1).count()
    if bad:
        raise ValueError(
            "reciprocal_rank_fusion: NULL or sub-1 rank — a silent "
            "skip would re-weight rankers; clean the input")
    fused = (rankings
             .groupBy(q.alias("__q"), it.alias("__i"))
             .agg(F.sum(F.lit(1.0) / (F.lit(float(k)) + r))
                  .alias("rrf_score")))
    w = Window.partitionBy("__q").orderBy(F.col("rrf_score").desc(),
                                          F.col("__i").asc())
    out = (fused.withColumn("fused_rank", F.row_number().over(w))
           .select(F.col("__q").alias(query_col),
                   F.col("__i").alias(item_col),
                   "rrf_score", "fused_rank"))
    if top_k is not None:
        if top_k < 1:
            raise ValueError("top_k must be >= 1")
        out = out.filter(F.col("fused_rank") <= top_k)
    return out
