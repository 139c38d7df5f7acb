"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (its dedup surface is the documented uniqueness rules,
docs/configurations/rules.md:10-11); these are the net-new scale operators:
exact dedup, n-gram Jaccard, MinHash+LSH, SimHash. All pure DataFrame ops —
no Python UDFs — so they stay in WholeStageCodegen and scale by
partitioning:

* exact dedup: one hash-partition shuffle on the key.
* MinHash: explode-shingles → one groupBy(doc) shuffle; signature width K
  costs K aggregates, not K passes.
* LSH: band signatures → self-join on (band, band_hash) — candidate pairs
  only, never the full O(n²) cross join.
* SimHash: 64 conditional-sum aggregates in the same single groupBy.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import graph


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(
    df: DataFrame,
    subset: Optional[Sequence[str]] = None,
    *,
    tie_breaker: Optional[str] = None,
) -> DataFrame:
    """Keep one row per distinct ``subset`` (all columns if None).

    With a ``tie_breaker`` column the kept row is deterministic (minimum
    tie-breaker wins) via ``row_number`` over a key-partitioned window —
    one shuffle on the dedup key. Without one, ``dropDuplicates`` lets
    Spark keep an arbitrary row with the same single shuffle.
    """
    cols = list(subset) if subset else list(df.columns)
    if tie_breaker is None:
        return df.dropDuplicates(cols)
    w = Window.partitionBy(*cols).orderBy(F.col(tie_breaker).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    sep: str = "\n\n",
    min_chars: int = 1,
    out_col: str = "dedup_text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Corpus-global paragraph-level dedup: split every document on
    ``sep``, keep only the globally-FIRST occurrence of each distinct
    paragraph (ordered by ``(id, position)``), and rebuild each
    document's text from its surviving paragraphs in original order —
    the Dolma / CCNet recipe that removes boilerplate and syndicated
    paragraphs while keeping the rest of the document.

    Returns ``df`` with ``out_col`` appended (NULL text stays NULL; a
    document whose every paragraph lost elsewhere rebuilds to ``''``).
    When no paragraph is removed the rebuild is byte-identical to the
    input, separators included.

    Scale shape (three key-distributed shuffles, no windows over the
    corpus, no UDF):

    1. one posexplode pass over the text scan — persisted, because the
       exploded frame feeds BOTH the first-occurrence aggregation and
       the join probe side (without the persist the explode evaluates
       2-3×; the sibling remove_dup_spans persists the identical shape
       for the same reason — ADVICE r8). Released when the result is
       garbage-collected;
    2. first-occurrence per paragraph via ``groupBy(key)`` +
       ``min(struct(id, pos))`` — with a hashed family the shuffled
       tuples are (8-byte key, id, pos), NOT paragraph text, and the
       min is map-side partially aggregated;
    3. a key-partitioned join back tags survivors, and one id-keyed
       groupBy reassembles (``array_sort`` of (pos, para) structs —
       per-document state, no global sort).

    ``hash_family``: ``"xxhash64"`` (default — fastest; a 64-bit
    collision merges two distinct paragraphs, odds ~n²/2⁶⁴),
    ``"md5_48"`` (engine-portable, DuckDB-oracle-checkable), or
    ``"exact"`` (group on the paragraph string itself — zero collision
    risk, shuffles paragraph text in phase 2 as the price).
    Paragraphs shorter than ``min_chars`` are EXEMPT — always kept,
    never counted as duplicates (the default 1 exempts only the empty
    strings that adjacent separators produce, which preserves blank-
    line structure instead of collapsing it corpus-wide).
    """
    import re as _re

    t = F.col(text_col)
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(t, _re.escape(sep), -1))
        .alias("__pos", "__para"),
    )
    if hash_family == "exact":
        key = F.col("__para")
    elif hash_family == "md5_48":
        key = hash48_md5(F.col("__para"))
    else:
        key = F.xxhash64("__para")
    from .sampling import _release_on_gc

    paras = paras.withColumn("__k", key).withColumn(
        "__dd", F.length("__para") >= min_chars).persist()
    firsts = (paras.filter(F.col("__dd"))
              .groupBy("__k")
              .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                  F.col("__pos").alias("p")))
                   .alias("__first")))
    kept = (paras.join(firsts, "__k", "left")
            .filter((~F.col("__dd"))
                    | ((F.col("__first.i") == F.col(id_col))
                       & (F.col("__first.p") == F.col("__pos")))))
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("__pos", "__para"))),
                       lambda s: s["__para"]),
                   sep).alias(out_col)))
    out = (df.join(rebuilt, id_col, "left")
           .withColumn(out_col,
                       F.when(t.isNull(), F.lit(None).cast("string"))
                       .otherwise(F.coalesce(F.col(out_col), F.lit("")))))
    return _release_on_gc(out, paras)


# ---------------------------------------------------------------------------
# Shingling (shared by Jaccard / MinHash / SimHash)
# ---------------------------------------------------------------------------

def tokens_col(text: Column) -> Column:
    """Whitespace tokens of lower-cased, trimmed text."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def _word_ngrams(tokens: Column, n: int) -> Column:
    """Word ``n``-grams of a token array, in token order: element ``i``
    joins tokens ``i .. i+n-1`` with single spaces, so a ``posexplode``
    position is the gram's first token index. Fewer than ``n`` tokens
    give an empty array, and so does a NULL array: callers that keep a
    NULL text apart from an empty one guard it themselves. Tokens must
    hold no space (whitespace-split tokens never do); empty tokens
    count as tokens.

    The one n-gram kernel of the package: ONE ``regexp_extract_all``
    over the space-joined tokens, matching zero-width at every token
    start and capturing the next ``n`` tokens in a lookahead. Every
    step is a codegen built-in, so the build runs inside whole-stage
    codegen; a lambda over shifted slices would run per row and per
    element in the interpreted higher-order-function path. The result
    is nullable only where the tokens are."""
    if n < 1:
        raise ValueError("n must be >= 1")
    if n == 1:
        return F.coalesce(tokens, F.array().cast("array<string>"))
    pattern = r"(?<![^ ])(?=([^ ]*(?: [^ ]*){%d}))" % (n - 1)
    return F.regexp_extract_all(F.concat_ws(" ", tokens), F.lit(pattern), 1)


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string>, from
    :func:`_word_ngrams` over :func:`tokens_col`. A text of fewer than
    ``n`` tokens is its own single shingle; a NULL text has none
    (NULL)."""
    toks = tokens_col(text)
    if n <= 1:
        return F.array_distinct(toks)
    return F.array_distinct(
        F.when(F.size(toks) >= n, _word_ngrams(toks, n))
        .when(toks.isNotNull(), F.array(F.concat_ws(" ", toks))))


def posting_list_pairs(frame: DataFrame, ids_col: str = "ids",
                       salt_cols=None) -> DataFrame:
    """``(id_a, id_b)`` for every in-list pair ``(ids[i], ids[j>i])`` of
    each row's sorted ``ids`` array — the posting-list/bucket pair
    expansion shared by :func:`_pair_intersections`,
    :func:`lsh_candidate_pairs` and the fingerprint branch of the
    catalog's ensemble-dedup entry.

    Implemented as TWO chained generators (``posexplode`` + ``explode``
    of a positional ``slice``), which run in whole-stage codegen and
    STREAM the k² pairs of a k-doc bucket. The previous formulation —
    ``explode(flatten(transform(ids, (a, i) -> transform(slice(...),
    b -> struct(a, b)))))`` — evaluated the nested lambdas through the
    higher-order-function interpreter (CodegenFallback: per row, per
    element) and materialized the ENTIRE k²-struct pair array in task
    memory before the explode saw it; a hot shingle shared by 1k docs
    built a 500k-struct array per row. Same pair set, same id_a < id_b
    order guarantee (lists arrive sorted); r16 ledger has the A/B.

    The input is spread to the session's shuffle parallelism first:
    the bucket frame normally arrives from a groupBy whose exchange
    AQE right-sizes by BYTES, but this operator EXPANDS k² per row, so
    a byte-coalesced handful of partitions serializes the whole pair
    stage (measured at sf0.1 on dedup_jaccard: 18.5 cpu-s on 4 tasks;
    same disease and cure as graph.triangle_counts' wedge stage — the
    paired A/Bs live in the r16 ledger). Hash-keyed on the list column
    plus the caller's ``salt_cols`` (the bucket-key columns — band
    hash, shingle, fingerprint — so IDENTICAL ids arrays from
    different buckets spread instead of colliding, r17) at the
    CONFIGURED shuffle-partition count — i.e. "don't byte-coalesce
    THIS exchange" — which scale_confs derives from cluster size, and
    the O(buckets) exchange is noise against the Σk² it parallelizes.
    """
    shuf = int(frame.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # Salt the spread key with the caller's BUCKET KEY columns (r16
    # advice, r17 form): in LSH banding the same duplicate group
    # collides in several bands, yielding multiple rows with IDENTICAL
    # ids arrays — hashed on the list alone they all land in one
    # partition, re-serializing the heaviest k² expansions. Salting
    # with the caller's distinguishing columns (band hash, shingle,
    # fingerprint — whatever keyed the bucket groupBy) spreads the
    # twins. A DATA column, deliberately NOT spark_partition_id():
    # that expression is planner-nondeterministic, which blocked
    # ReuseExchange on the twin consumers of this expansion and
    # re-planned two extra shuffles (caught by the plan-shape suite),
    # and rand()-class salts re-deal rows under task retry
    # (SPARK-38388).
    keys = [F.col(ids_col)] + [F.col(c) for c in (salt_cols or ())]
    return (
        frame
        .repartition(shuf, *keys)
        .select(F.col(ids_col).alias("__ids"),
                F.posexplode(ids_col).alias("__i", "id_a"))
        .select("id_a",
                F.explode(F.slice(F.col("__ids"), F.col("__i") + F.lit(2),
                                  F.size(F.col("__ids")))).alias("id_b"))
    )


def explode_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) pairs, one row per distinct shingle per document.

    The input is fanned out to cluster parallelism first (no-op on wide
    scans): shingling is CPU-bound and explode inherits the input's
    partitioning, so a 1-split file would otherwise shingle on one core.
    """
    from ..plans import fan_out

    return fan_out(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(shingles_col(F.col(text_col), n)).alias("shingle")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard similarity (ground truth for MinHash)
# ---------------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: Optional[int] = None,
) -> DataFrame:
    """All pairs with n-gram Jaccard >= threshold.

    Inverted index via ONE groupBy(shingle): each shingle's posting list
    (its sorted doc ids) explodes into its in-bucket pairs with
    higher-order functions — half the exchanges of the equivalent
    self-equi-join, with the same k² per-bucket pair count; intersection
    sizes by one groupBy, union by |A|+|B|-|A∩B|.
    Returns (id_a, id_b, jaccard) with id_a < id_b.

    Scale notes: stop-shingle skew (a shingle shared by k docs produces
    k² pair rows) is the known hot spot; with the posting-list
    formulation the ``max_shingle_df`` cut is free — the list length IS
    the document frequency, so ultra-common shingles are dropped by a
    filter on the aggregated frame, no extra join or count pass. The
    grouping key is xxhash64(shingle) — an 8-byte long instead of the
    raw n-gram string — so the shuffle carries fixed-width keys (64-bit
    collisions are negligible at any realistic shingle cardinality).

    The (id, shingle_hash) index is persisted MEMORY_AND_DISK: it feeds
    the posting-list aggregation and the per-doc size lookup, and
    recomputing the shingling per branch costs more than spilling the
    fixed-width index.
    """
    sized = _pair_intersections(df, id_col, text_col, n, max_shingle_df)
    return (
        sized.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _pair_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_df: Optional[int],
) -> DataFrame:
    """Shared machinery of :func:`jaccard_pairs` / :func:`containment_pairs`:
    (id_a, id_b, n_common, n_a, n_b) for every pair with >= 1 shared
    shingle, id_a < id_b. See jaccard_pairs for the scale notes."""
    from pyspark.storagelevel import StorageLevel

    ex = explode_shingles(df, id_col, text_col, n).select(
        id_col, F.xxhash64("shingle").alias("shingle")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # per-doc shingle counts from the cached index (shingles are distinct
    # per doc by construction) — no second shingling pass. Sizes are
    # computed BEFORE any stop-shingle filter so the denominators stay
    # exact. Persisted (r16): the sa/sb join sides below each plant
    # this aggregation again — the stage profile showed twin ~20 task-s
    # stages computing identical (id, count) outputs; the frame is one
    # narrow row per document, the cheapest dup in the plan to cut.
    # Session-lifetime like `ex` above (same derive-and-drop caveat).
    sizes = (ex.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    postings = (
        ex.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_shingle_df is not None:
        # stop-shingle cut: a shingle in k docs emits k² pair rows;
        # dropping ultra-common shingles bounds the quadratic blowup at
        # the price of slightly UNDER-counting the intersection
        # (estimated jaccard becomes a lower bound). The 100 TB knob
        # promised in SCALE.md — free here: len(posting list) == df.
        postings = postings.filter(F.size("ids") <= max_shingle_df)
    inter = (
        posting_list_pairs(postings, salt_cols=["shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    # NOTE: no broadcast hint on the sizes joins — `sizes` has one row per
    # document (corpus-sized), so a forced broadcast would collect the whole
    # corpus to the driver at scale. Both joins are keyed on the doc id; AQE
    # picks a broadcast only when the sizes frame is actually small.
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: Optional[int] = None,
) -> DataFrame:
    """All pairs where the smaller document's shingle set is at least
    ``threshold``-contained in the other's: containment =
    |A∩B| / min(|A|, |B|), id_a < id_b. Catches subset/quote inclusion
    that symmetric Jaccard misses — a short doc fully embedded in a long
    one has near-zero Jaccard (union is dominated by the long doc) but
    containment 1.0. Same posting-list machinery, plan, and
    ``max_shingle_df`` stop-shingle knob as :func:`jaccard_pairs`;
    returns (id_a, id_b, n_common, containment).
    """
    sized = _pair_intersections(df, id_col, text_col, n, max_shingle_df)
    containment = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        sized.withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "containment")
    )


def similarity_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    jaccard_threshold: Optional[float] = None,
    containment_threshold: Optional[float] = None,
    max_shingle_df: Optional[int] = None,
) -> DataFrame:
    """Pairs passing EITHER the symmetric Jaccard OR the asymmetric
    containment threshold, from ONE shared shingle pass — what an
    ensemble dedup pipeline wants instead of running
    :func:`jaccard_pairs` and :func:`containment_pairs` separately and
    shingling/grouping the corpus twice. At least one threshold is
    required; returns (id_a, id_b, n_common, jaccard, containment) for
    pairs where any enabled signal fires.
    """
    if jaccard_threshold is None and containment_threshold is None:
        raise ValueError("enable at least one threshold")
    sized = _pair_intersections(df, id_col, text_col, n, max_shingle_df)
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    cont = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    keep = F.lit(False)
    if jaccard_threshold is not None:
        keep = keep | (jac >= jaccard_threshold)
    if containment_threshold is not None:
        keep = keep | (cont >= containment_threshold)
    return (
        sized.withColumn("jaccard", jac).withColumn("containment", cont)
        .filter(keep)
        .select("id_a", "id_b", "n_common", "jaccard", "containment")
    )


def dup_span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Per-document fraction of TOKENS covered by at least one
    cross-document duplicated word ``n``-gram span — the token-level
    "how much of this document is duplicated text" signal from
    exact-substring dedup (Lee et al. 2022, arXiv:2107.06499), as
    opposed to :func:`dup_shingle_fraction`'s shingle-level count: a
    100-token doc sharing one 50-token passage with another doc scores
    dup_token_frac ~ 0.5 here, while its shingle fraction depends on
    how the passage shingles overlap. Returns
    (id, n_tokens, covered_tokens, dup_token_frac).

    Cross-document only: a gram must occur in >= ``min_df`` DISTINCT
    documents (within-doc self-repetition is text.repetition's
    signal). Scale shape: positional grams from the
    :func:`_word_ngrams` kernel (posexplode positions are token
    indices), doc-frequency groupBy + semi join back on the 8-byte
    xxhash64(gram) — posting-list shape, no pairs anywhere; the
    position explosion (x n) runs over DUPLICATED spans only, then a
    distinct + per-doc count. The exploded gram frame is persisted so
    one pass feeds both the frequency agg and the join back (released
    when the result is garbage-collected).
    """
    from pyspark.storagelevel import StorageLevel

    from ..plans import fan_out
    from .sampling import _release_on_gc

    if n < 1:
        raise ValueError("n must be >= 1")
    toks = tokens_col(F.col(text_col))
    ex = (fan_out(df.select(id_col, text_col))
          .select(F.col(id_col),
                  F.posexplode(_word_ngrams(toks, n)).alias("__s", "__gr"))
          .select(id_col, "__s", F.xxhash64("__gr").alias("__h"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    dfreq = (ex.groupBy("__h")
             .agg(F.count_distinct(F.col(id_col)).alias("__df"))
             .filter(F.col("__df") >= min_df))
    covered = (ex.join(dfreq, "__h", "left_semi")
               .select(id_col,
                       F.explode(F.sequence(
                           F.col("__s"), F.col("__s") + F.lit(n - 1)))
                       .alias("__p"))
               .distinct()
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("covered_tokens")))
    # NULL text keeps NULL token count (legacy size(NULL) would be -1 —
    # a nonsense count and a -0.0 fraction) — matching SQL semantics
    nt = df.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("int"))
        .otherwise(F.size(toks)).alias("n_tokens"))
    out = (nt.join(covered, id_col, "left")
           .select(F.col(id_col), "n_tokens",
                   F.coalesce("covered_tokens", F.lit(0))
                   .alias("covered_tokens"))
           .withColumn("dup_token_frac",
                       F.col("covered_tokens") / F.col("n_tokens")))
    return _release_on_gc(out, ex)


def _word_grams(text_col: str, n: int):
    """(toks, grams) Column pair for word n-gram excision — shared by
    :func:`remove_dup_spans` and :func:`decontaminate_spans`: the
    case-sensitive whitespace tokens and their :func:`_word_ngrams`."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return toks, _word_ngrams(toks, n)


def _rebuild_excised(df: DataFrame, id_col: str, text_col: str,
                     rem: DataFrame, toks, out_col: str) -> DataFrame:
    """Rebuild each document from tokens whose positions are NOT in
    ``rem`` (id, __p) — the shared removal tail of the span operators:
    one id-keyed anti join + one id-keyed groupBy, with the
    NULL-text / n_tokens / removed_tokens output contract."""
    from ..plans import fan_out

    t = F.col(text_col)
    tok_rows = (fan_out(df.select(id_col, text_col))
                .select(F.col(id_col),
                        F.posexplode(toks).alias("__p", "__tok")))
    kept = tok_rows.join(rem, [id_col, "__p"], "left_anti")
    reb = (kept.groupBy(id_col)
           .agg(F.array_join(
               F.transform(
                   F.array_sort(F.collect_list(
                       F.struct("__p", "__tok"))),
                   lambda s: s["__tok"]),
               " ").alias(out_col),
               F.count(F.lit(1)).alias("__kept")))
    return (df.join(reb, id_col, "left")
            .withColumn(out_col,
                        F.when(t.isNull(), F.lit(None).cast("string"))
                        .otherwise(F.coalesce(F.col(out_col),
                                              F.lit(""))))
            .withColumn("n_tokens",
                        F.when(t.isNull(), F.lit(None).cast("int"))
                        .otherwise(F.size(toks)))
            .withColumn("removed_tokens",
                        F.when(t.isNull(), F.lit(None).cast("int"))
                        .otherwise(F.size(toks)
                                   - F.coalesce("__kept", F.lit(0))
                                   .cast("int")))
            .drop("__kept"))


def remove_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_df: int = 2,
    hash_family: str = "xxhash64",
    out_col: str = "dedup_text",
) -> DataFrame:
    """The REMOVAL phase of exact-substring dedup (Lee et al. 2022,
    arXiv:2107.06499 — :func:`dup_span_coverage` is the measurement
    phase): excise every occurrence of a cross-document duplicated word
    ``n``-gram EXCEPT the globally-first one (ordered by ``(id,
    position)`` — the corpus keeps exactly one copy of each duplicated
    passage), then rebuild each document from its surviving tokens.
    Overlapping duplicated spans union before removal, exactly like the
    coverage metric.

    Returns ``df`` + ``(out_col, n_tokens, removed_tokens)``. NULL text
    stays NULL; documents shorter than ``n`` tokens are untouched.
    Tokenization is case-SENSITIVE raw whitespace splitting (Lee et al.
    operate on raw bytes) — run :func:`~.text.normalize_text` first if
    cosmetic case/whitespace differences should count as duplication;
    the rebuild joins survivors with single spaces.

    Scale shape (the paragraph_dedup/coverage pattern — posting lists,
    no pairs, no corpus-wide windows): one posexplode pass over the
    scan persisted to feed (a) a gram groupBy computing doc-frequency
    AND first occurrence (``min(struct(id, pos))``, map-side partial)
    and (b) the join back that tags non-exempt occurrences; position
    explosion (×``n``) runs over duplicated occurrences only; the
    rebuild is one id-keyed anti join + one id-keyed groupBy
    (``array_sort`` of per-document structs, no global sort).
    ``hash_family`` as in :func:`paragraph_dedup` — ``"xxhash64"``
    (default), ``"md5_48"``, or ``"exact"`` (oracle-checkable,
    shuffles gram text).
    """
    from pyspark.storagelevel import StorageLevel

    from ..plans import fan_out
    from .sampling import _release_on_gc

    if n < 1:
        raise ValueError("n must be >= 1")
    toks, grams = _word_grams(text_col, n)
    ex = (fan_out(df.select(id_col, text_col))
          .select(F.col(id_col), F.posexplode(grams).alias("__s", "__gr")))
    if hash_family == "exact":
        key = F.col("__gr")
    elif hash_family == "md5_48":
        key = hash48_md5(F.col("__gr"))
    else:
        key = F.xxhash64("__gr")
    ex = (ex.select(F.col(id_col), "__s", key.alias("__k"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    freq = (ex.groupBy("__k")
            .agg(F.count_distinct(F.col(id_col)).alias("__df"),
                 F.min(F.struct(F.col(id_col).alias("i"),
                                F.col("__s").alias("p")))
                 .alias("__first"))
            .filter(F.col("__df") >= min_df))
    rem = (ex.join(freq, "__k")
           .filter(~((F.col("__first.i") == F.col(id_col))
                     & (F.col("__first.p") == F.col("__s"))))
           .select(F.col(id_col),
                   F.explode(F.sequence(
                       F.col("__s"), F.col("__s") + F.lit(n - 1)))
                   .alias("__p"))
           .distinct())
    out = _rebuild_excised(df, id_col, text_col, rem, toks, out_col)
    return _release_on_gc(out, ex)


def decontaminate_spans(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    hash_family: str = "xxhash64",
    out_col: str = "decon_text",
) -> DataFrame:
    """Span-level eval decontamination — :func:`remove_dup_spans`'
    exact-substring machinery pointed at a TEST SET: excise EVERY
    train occurrence of any word ``n``-gram that appears anywhere in
    the test corpus, then rebuild the document from its surviving
    tokens. Where :func:`contamination` FLAGS leaked docs for
    dropping, this SALVAGES them — a long document quoting one
    benchmark question loses the quote, not the document (the GPT-3
    appendix-C recipe). No first-occurrence exemption: test-set
    material has no legitimate copy in training data.

    Returns ``train`` + ``(out_col, n_tokens, removed_tokens)``. NULL
    text stays NULL; documents shorter than ``n`` tokens are
    untouched. Tokenization contract identical to remove_dup_spans
    (case-sensitive whitespace split; normalize upstream if wanted).

    Scale shape: the remove_dup_spans posting-list recipe with the
    doc-frequency groupBy replaced by ONE semi join against the test
    set's distinct gram keys (8-byte hashes unless
    ``hash_family="exact"``); position explosion (×n) runs over
    contaminated occurrences only, rebuild is one id-keyed anti join
    + one id-keyed groupBy. Never pairs, never corpus-wide windows.
    """
    from ..plans import fan_out

    if n < 1:
        raise ValueError("n must be >= 1")
    toks, grams = _word_grams(text_col, n)

    def key_of(col):
        if hash_family == "exact":
            return col
        if hash_family == "md5_48":
            return hash48_md5(col)
        return F.xxhash64(col)

    ex = (fan_out(train.select(id_col, text_col))
          .select(F.col(id_col), F.posexplode(grams).alias("__s", "__gr"))
          .select(F.col(id_col), "__s", key_of(F.col("__gr")).alias("__k")))
    te = (fan_out(test.select(text_col))
          .select(F.explode(grams).alias("__gr"))
          .select(key_of(F.col("__gr")).alias("__k"))
          .distinct())
    rem = (ex.join(te, "__k", "left_semi")
           .select(F.col(id_col),
                   F.explode(F.sequence(
                       F.col("__s"), F.col("__s") + F.lit(n - 1)))
                   .alias("__p"))
           .distinct())
    return _rebuild_excised(train, id_col, text_col, rem, toks,
                            out_col)


def dup_shingle_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_df: int = 2,
) -> DataFrame:
    """Per-document fraction of its distinct word ``n``-gram shingles
    that also occur in at least ``min_df`` documents — the RefinedWeb
    "duplicate n-gram fraction" filter signal (docs made mostly of
    corpus-repeated n-grams are templates/mirrors even when no single
    pair crosses a Jaccard threshold). Returns
    (id, n_shingles, n_dup, dup_frac).

    Scale shape: one explode feeding (a) the shingle document-frequency
    groupBy and (b) the frequency join back — both keyed on the 8-byte
    xxhash64(shingle) — then one id-keyed groupBy. The shingle index is
    persisted once, like jaccard_pairs; no pair blowup anywhere (this is
    the linear-cost screen you run BEFORE the quadratic pair search).
    """
    from pyspark.storagelevel import StorageLevel

    from .sampling import _release_on_gc

    ex = explode_shingles(df, id_col, text_col, n).select(
        id_col, F.xxhash64("shingle").alias("_h")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = ex.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    out = (
        ex.join(dfreq, "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("_df") >= min_df).cast("long")).alias("n_dup"),
        )
        .withColumn("dup_frac", F.col("n_dup") / F.col("n_shingles"))
    )
    # release the shingle cache when the result is GC'd (the r6 pattern
    # dup_span_coverage uses — a bare persist leaked for the session)
    return _release_on_gc(out, ex)


def plan_lsh_bands(threshold: float, num_hashes: int) -> dict:
    """Pick the (bands, rows) banding for a MinHash signature so the
    candidate S-curve's inflection point ``(1/b)^(1/r)`` lands nearest
    the target Jaccard ``threshold`` — the analytic half of LSH tuning
    (:func:`lsh_quality_report` is the empirical half: plan here,
    verify there on a sample).

    Driver-side arithmetic only. Returns {bands, rows, inflection,
    p_at_threshold} where p_at_threshold = 1−(1−t^r)^b is the
    probability a true threshold-similarity pair becomes a candidate
    under the chosen banding.
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        inflection = (1.0 / bands) ** (1.0 / rows)
        gap = abs(inflection - threshold)
        if best is None or gap < best[0]:
            best = (gap, bands, rows, inflection)
    _, bands, rows, inflection = best
    p = 1.0 - (1.0 - threshold ** rows) ** bands
    return {"bands": bands, "rows": rows,
            "inflection": round(inflection, 4),
            "p_at_threshold": round(p, 4)}


def lsh_quality_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.25,
    num_hashes: int = 16,
    bands: int = 4,
    hash_family: str = "xxhash64",
    sample_fraction: float = 1.0,
) -> DataFrame:
    """Precision/recall/error of the MinHash+LSH pipeline against the
    exact Jaccard ground truth at the same threshold — the calibration
    check you run on a SAMPLE before trusting a (num_hashes, bands)
    configuration on the full corpus ("measure, don't guess": banding
    theory gives the candidate probability, not the end-to-end quality
    after estimation error).

    Returns ONE row: (n_exact, n_approx, n_hit, precision, recall,
    mean_abs_err) where mean_abs_err averages |est − true| over hits.

    Scale note: the exact side is the quadratic posting-list operator —
    NEVER run it corpus-wide. ``sample_fraction < 1`` applies
    :func:`~.sampling.deterministic_sample` on ``id_col`` to BOTH sides
    before comparing (hash-stable, so reruns score the same subset);
    the verdict transfers because the sample sees the same shingle
    distribution. The default 1.0 is for test-sized frames only.
    """
    if not 0.0 < sample_fraction <= 1.0:
        # a "50"-meaning-50% typo must not silently run the quadratic
        # exact side corpus-wide — the accident this param prevents
        raise ValueError("sample_fraction must be in (0, 1]")
    if sample_fraction < 1.0:
        from .sampling import deterministic_sample
        df = deterministic_sample(df, id_col, sample_fraction)
    exact = jaccard_pairs(
        df, id_col, text_col, n=n, threshold=threshold)
    approx = minhash_dedup_pairs(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold, hash_family=hash_family,
    ).select("id_a", "id_b", "est_jaccard")
    j = exact.join(approx, ["id_a", "id_b"], "full_outer")
    hit = F.col("jaccard").isNotNull() & F.col("est_jaccard").isNotNull()
    agg = j.agg(
        F.sum(F.col("jaccard").isNotNull().cast("long")).alias("n_exact"),
        F.sum(F.col("est_jaccard").isNotNull().cast("long")).alias("n_approx"),
        F.sum(hit.cast("long")).alias("n_hit"),
        F.avg(F.when(hit, F.abs(F.col("est_jaccard") - F.col("jaccard"))))
        .alias("__mae"),
    )
    return agg.select(
        "n_exact", "n_approx", "n_hit",
        F.round(F.col("n_hit") / F.nullif(F.col("n_approx"), F.lit(0)), 4)
        .alias("precision"),
        F.round(F.col("n_hit") / F.nullif(F.col("n_exact"), F.lit(0)), 4)
        .alias("recall"),
        F.round("__mae", 4).alias("mean_abs_err"),
    )


def cross_source_dup_matrix(
    df: DataFrame,
    source_col: str,
    text_col: str,
    *,
    key: Optional[Column] = None,
) -> DataFrame:
    """Pairwise exact-duplicate mass between corpus sources — the
    "which crawls mirror each other" diagnostic run before choosing
    mixture weights. For every (source_a <= source_b) pair, counts the
    duplicate doc pairs sharing a normalization fingerprint
    (:func:`~.text.fingerprint` by default; pass ``key`` for a coarser
    collision key, e.g. :func:`~.text.token_set_fingerprint`): within a
    source C(cnt,2), across sources cnt_a·cnt_b. Returns
    (source_a, source_b, n_dup_pairs, n_shared_fps) with zero rows
    suppressed; n_shared_fps = #distinct fingerprints contributing.

    Scale shape: one (fingerprint, source) groupBy, then ONE
    fingerprint groupBy whose per-group state is the source-count list —
    bounded by #sources, never by docs — with in-group pair counts
    exploded from the sorted list (the posting-list trick of
    :func:`jaccard_pairs`: no self-join on the corpus-sized frame). The
    final matrix agg is #sources²-bounded. Counts multiply instead of
    materializing pair rows, so a fingerprint shared a million times
    costs one long, not 10¹² rows.
    """
    from .text import fingerprint

    fp_col = key if key is not None else fingerprint(F.col(text_col))
    per = (
        df.select(F.col(source_col).alias("source"), fp_col.alias("fp"))
        .groupBy("fp", "source").agg(F.count(F.lit(1)).alias("cnt"))
    )
    grouped = per.groupBy("fp").agg(
        F.array_sort(F.collect_list(F.struct("source", "cnt"))).alias("sc"))
    # two chained codegen generators instead of the nested-HOF flatten
    # (the posting_list_pairs rationale); slice starts AT element i so
    # the within-source self-pair (C(cnt,2)) is kept
    a, b = F.col("__a"), F.col("__b")
    pairs = (
        grouped
        .select(F.col("sc").alias("__sc"),
                F.posexplode("sc").alias("__i", "__a"))
        .select("__a",
                F.explode(F.slice(F.col("__sc"), F.col("__i") + F.lit(1),
                                  F.size(F.col("__sc")))).alias("__b"))
        .select(
            a["source"].alias("source_a"),
            b["source"].alias("source_b"),
            F.when(a["source"] == b["source"],
                   F.shiftright(a["cnt"] * (a["cnt"] - F.lit(1)), 1))
             .otherwise(a["cnt"] * b["cnt"])
             .cast("long").alias("pairs"),
        )
    )
    return (
        pairs
        .groupBy("source_a", "source_b")
        .agg(F.sum("pairs").alias("n_dup_pairs"),
             F.sum((F.col("pairs") > 0).cast("long")).alias("n_shared_fps"))
        .filter(F.col("n_dup_pairs") > 0)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def hash48_md5(col: Column) -> Column:
    """Portable 48-bit hash: first 12 hex chars of md5 as a long.

    Byte-identical in DuckDB (``CAST(('0x' || substr(md5(x), 1, 12)) AS
    BIGINT)``), which is what makes the ``hash_family="md5_48"`` minhash /
    simhash variants exactly oracle-checkable — xxhash64 has no DuckDB
    twin. ~2× slower than xxhash64 per call; the default family stays
    xxhash64 for production."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def _seeded_hash(col: Column, seed: int, family: str) -> Column:
    """One of K independent hash functions over a long column."""
    if family == "xxhash64":
        return F.xxhash64(col, F.lit(seed))
    return hash48_md5(F.concat_ws(":", F.lit(str(seed)), col.cast("string")))


def _combine_hash(cols: list, family: str) -> Column:
    """Hash a tuple of longs (band bucketing)."""
    if family == "xxhash64":
        return F.xxhash64(*cols)
    return hash48_md5(F.concat_ws(":", *[c.cast("string") for c in cols]))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, h0..h{K-1}) MinHash signature.

    Hash family: the shingle string is hashed ONCE to a long, then the K
    functions are ``xxhash64(shingle_hash, seed_i)`` — K independent
    hashes over an 8-byte input instead of the raw n-gram string. K
    independent hashes (not a Kirsch-Mitzenmacher linear combination —
    that family is fine for Bloom filters but is not min-wise
    independent, and measured here it inflated est_jaccard ~40× false
    positives). The K mins are codegen'd agg expressions of ONE
    groupBy(doc) with map-side partial aggregation, so the shuffle
    carries ~one signature row per doc per input partition — not the raw
    (doc, shingle) pairs. Measured faster than the zero-shuffle per-row
    ``array_min(transform(...))`` formulation (interpreted higher-order
    exprs): 3.8s vs 4.9s warm at sf0.1.
    """
    first = F.xxhash64("shingle") if hash_family == "xxhash64" \
        else hash48_md5(F.col("shingle"))
    ex = explode_shingles(df, id_col, text_col, n).select(
        id_col, first.alias("sh")
    )
    # the K min-hash aggregates build as SQL strings (r16): the
    # Column form of _seeded_hash costs ~12 py4j round trips per hash
    # function — ~2.5k per LSH pipeline build (dedup_lsh_quality
    # profiled at 4.6k round trips). The parsed trees are the
    # identical seeded-hash expressions (same literals, same casts),
    # so signatures and every oracle are unchanged.
    if hash_family == "xxhash64":
        def h_sql(i):
            return f"xxhash64(sh, {i})"
    else:
        def h_sql(i):
            return (f"CAST(conv(substring(md5(concat_ws(':', '{i}', "
                    f"CAST(sh AS STRING))), 1, 12), 16, 10) AS BIGINT)")
    aggs = [F.expr(f"min({h_sql(i)})").alias(f"h{i}")
            for i in range(num_hashes)]
    return ex.groupBy(id_col).agg(*aggs)


def _band_stack(
    signatures: DataFrame,
    id_col: str,
    *,
    num_hashes: int,
    bands: int,
    hash_family: str,
) -> DataFrame:
    """(id, band_idx, band_hash) — one row per (doc, band); the shared
    banding step of both the all-pairs LSH and the index-query path."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(_combine_hash(cols, hash_family).alias(f"band{b}"))
    banded = signatures.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("band_hash"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band_idx", "bb.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH.

    Signature split into ``bands`` bands of ``num_hashes//bands`` rows;
    band hash = hash of the band's values. Docs sharing any band bucket
    become candidates. One groupBy(band_idx, band_hash) collects each
    bucket's ids and emits its in-bucket pairs by a higher-order-function
    explode — HALF the exchanges of the equivalent self-join (one
    shuffle of light (id, band_hash) rows instead of two), with the same
    per-bucket k² pair count and the same colocated-by-band skew
    behavior. A pair found by several bands is deduped by the final
    ``distinct``.
    """
    stacked = _band_stack(signatures, id_col, num_hashes=num_hashes,
                          bands=bands, hash_family=hash_family)
    buckets = (
        stacked.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # sorted ids -> pairing (ids[i], ids[j>i]) already satisfies id_a < id_b
    return posting_list_pairs(
        buckets, salt_cols=["band_idx", "band_hash"]).distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """LSH candidates refined by estimated Jaccard (signature agreement).

    Returns (id_a, id_b, est_jaccard). The estimate is the fraction of the
    K minhashes that agree — computed by joining the two signatures back.

    Shuffle budget (the r01 five-exchange plan reduced): the persisted
    signature frame comes out of its groupBy hash-partitioned by id, and
    the two verify joins' projections keep that partitioning
    (alias-aware), so only the candidate side exchanges — the signature
    table is never re-shuffled OR table-broadcast. With banding now a
    single groupBy, steady-state exchanges are: band bucket groupBy,
    candidate distinct, and the two candidate-sized join exchanges.
    """
    from pyspark.storagelevel import StorageLevel

    # signatures feed three branches (banding + both signature re-joins);
    # persist so the explode + K-agg pipeline runs once — one small row
    # per doc, spillable
    sigs = minhash_signatures(
        df, id_col, text_col, n=n, num_hashes=num_hashes,
        hash_family=hash_family,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cand = lsh_candidate_pairs(sigs, id_col, num_hashes=num_hashes, bands=bands,
                               hash_family=hash_family)
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig_a"),
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig_b"),
    )
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                            lambda v: v))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", agree / F.lit(num_hashes))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_index_query(
    batch_df: DataFrame,
    index_sigs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Query a NEW batch against a standing MinHash signature index —
    the incremental form of ``minhash_dedup_pairs``: the corpus is
    touched only through its persisted ``(id, h0..h{K-1})`` signature
    table (built once by ``minhash_signatures`` and appended per batch),
    never re-shingled or re-hashed.

    Returns (batch_id, index_id, est_jaccard) for batch docs whose
    signature agrees with an indexed doc on >= ``threshold`` of the K
    hashes, candidates generated by banded LSH exactly as in the
    all-pairs path (same bands ⇒ same recall curve).

    Scale shape: the index side shuffles once on (band_idx, band_hash)
    — at a steady state, write the index PRE-BUCKETED by band hash and
    even that exchange disappears; the batch side is small by contract
    and AQE broadcasts it. The signature-agreement refine joins
    id-keyed signature rows for the candidate ids only.
    """
    from pyspark.storagelevel import StorageLevel

    batch_sigs = minhash_signatures(
        batch_df, id_col, text_col, n=n, num_hashes=num_hashes,
        hash_family=hash_family,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ib = _band_stack(index_sigs, id_col, num_hashes=num_hashes,
                     bands=bands, hash_family=hash_family) \
        .withColumnRenamed(id_col, "index_id")
    bb = _band_stack(batch_sigs, id_col, num_hashes=num_hashes,
                     bands=bands, hash_family=hash_family) \
        .withColumnRenamed(id_col, "batch_id")
    cand = (
        ib.join(bb, ["band_idx", "band_hash"])
        .select("batch_id", "index_id").distinct()
    )
    sig_arr = F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
    si = index_sigs.select(F.col(id_col).alias("index_id"),
                           sig_arr.alias("sig_i"))
    sb = batch_sigs.select(F.col(id_col).alias("batch_id"),
                           sig_arr.alias("sig_b"))
    agree = F.size(F.filter(F.zip_with("sig_i", "sig_b", lambda x, y: x == y),
                            lambda v: v))
    return (
        cand.join(si, "index_id")
        .join(sb, "batch_id")
        .withColumn("est_jaccard", agree / F.lit(num_hashes))
        .filter(F.col("est_jaccard") >= threshold)
        .select("batch_id", "index_id", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components over pair edges)
# ---------------------------------------------------------------------------

def _cluster_key(df: DataFrame, pairs: DataFrame, id_col: str, out: str,
                 *, id_a: str, id_b: str) -> DataFrame:
    """``df`` plus ``out``: the minimum member id of the row's
    duplicate cluster over ``pairs``, or the row's own id when it is in
    no pair. One id-keyed left join of the corpus against the
    pair-list-sized labels (AQE broadcasts them when small)."""
    labels = graph.connected_components(pairs, src=id_a, dst=id_b)
    return (df.join(labels.select(F.col("node").alias(id_col),
                                  "component"), id_col, "left")
            .withColumn(out, F.coalesce(F.col("component"), F.col(id_col)))
            .drop("component"))


def dedup_clusters(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(cluster_id, n_members) per duplicate cluster; cluster_id is the
    minimum member id (the canonical survivor under keep-lowest).
    Pairs whose two ids are equal join nothing: a self-loop alone makes
    no cluster."""
    cc = graph.connected_components(pairs, src=id_a, dst=id_b)
    return cc.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members"))


def canonical_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    score_col: str | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep_singletons: bool = True,
    strategy: str = "score",
) -> DataFrame:
    """Keep ONE canonical document per duplicate cluster — the step a
    training pipeline actually runs after near-dup detection: not "list
    the clusters" but "emit the corpus with each duplicate group reduced
    to its best representative".

    Two strategies (both deterministic and backfill-stable):

    - ``strategy="score"`` (default): representative = highest
      ``score_col``, ties broken by lowest id.
    - ``strategy="centrality"``: representative = highest DEGREE in
      the match graph the pair stage already computed — the member
      similar to the MOST other members, i.e. the medoid-ish center of
      the cluster rather than merely its longest document (a cluster's
      min-id or max-score member can be an outlier stitched in by one
      borderline edge; the high-degree member is what the cluster is
      "about"). Ties broken by lowest id; degree counts pair rows as
      given (near-pair stages emit each undirected edge once). The
      output gains a ``degree`` column (0 for singletons).

    Rows that appear in no pair survive untouched
    (``keep_singletons``); output adds ``cluster_id`` (min member id
    for clustered rows, own id for singletons) and ``n_members``.

    Scale shape: the transitive closure runs over the PAIR LIST (sized
    by duplication, not the corpus); the corpus-sized work is one left
    join against the labels (id-keyed; AQE broadcasts labels when small)
    plus one window partitioned BY CLUSTER — thousands of small
    partitions, never a global sort. The centrality strategy adds one
    pair-list-sized groupBy (degree) and a second id-keyed left join —
    still nothing corpus². The reference engine has no analogue (its
    dedup stops at row_dq uniqueness counts).
    """
    from pyspark.sql import Window

    if strategy not in ("score", "centrality"):
        raise ValueError("strategy must be 'score' or 'centrality'")
    if strategy == "score" and score_col is None:
        raise ValueError("strategy='score' requires score_col")
    if strategy == "centrality":
        # pairs feed TWO consumers here (the components closure and
        # the degree fold) — without a cut the pair stage (typically an
        # expensive similarity self-join) re-executes per consumer
        # (measured 5.5 → 3.3 s at sf0.1 on the jaccard fixture); the
        # r11 persist rule: cut only multi-consumer aggregate outputs
        pairs = pairs.localCheckpoint(eager=False)
    clustered = _cluster_key(df, pairs, id_col, "cluster_id",
                             id_a=id_a, id_b=id_b)
    if strategy == "centrality":
        deg = (pairs.select(F.col(id_a).alias("__n"))
               .unionAll(pairs.select(F.col(id_b).alias("__n")))
               .groupBy("__n")
               .agg(F.count(F.lit(1)).alias("degree")))
        clustered = (clustered
                     .join(deg.withColumnRenamed("__n", id_col),
                           id_col, "left")
                     .withColumn("degree",
                                 F.coalesce("degree", F.lit(0))))
        order = [F.col("degree").desc(), F.col(id_col).asc()]
    else:
        order = [F.col(score_col).desc(), F.col(id_col).asc()]
    w = Window.partitionBy("cluster_id").orderBy(*order)
    ranked = clustered.select(
        "*",
        F.row_number().over(w).alias("__rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy("cluster_id")).alias("n_members"),
    )
    out = ranked.filter(F.col("__rk") == 1).drop("__rk")
    if not keep_singletons:
        out = out.filter(F.col("n_members") > 1)
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document from token xxhash64 values.

    Per bit b: sign of sum over tokens of (+1 if bit set else -1); all
    ``bits`` sums are codegen'd aggregates of ONE groupBy(doc) with
    map-side combine (measured faster than the per-row higher-order
    ``aggregate`` formulation: 1.05s vs 1.6s warm at sf0.1).
    """
    from ..plans import fan_out

    if hash_family != "xxhash64" and bits > 48:
        # hash48_md5 yields 48-bit values: bits 48-63 of every token
        # hash are 0, so signature bits above 47 are constant and the
        # pigeonhole chunk over them degenerates into a full corpus
        # self-join in simhash_near_pairs — refuse instead
        raise ValueError(
            "hash_family='md5_48' provides 48 bits of entropy; "
            "use bits <= 48 (and the same bits in simhash_near_pairs)")
    tok_hash = F.xxhash64("tok") if hash_family == "xxhash64" \
        else hash48_md5(F.col("tok"))
    ex = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens_col(F.col(text_col)))).alias("tok"),
    ).withColumn("th", tok_hash)
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    summed = ex.groupBy(id_col).agg(*aggs)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(2 ** b if b < 63 else -(2 ** 63)).cast("long")
        sig = term if sig is None else sig + term
    return summed.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    signatures: DataFrame, id_col: str, *, max_hamming: int = 3, bits: int = 64,
    blocks: int = 4,
) -> DataFrame:
    """Pairs within ``max_hamming`` bit flips.

    Pigeonhole blocking: split the signature into ``blocks`` chunks — any
    pair within max_hamming (< blocks) shares at least one exact chunk, so
    candidates come from equi-joins on chunk values (no cross join), then
    exact Hamming via bit_count(xor).
    """
    chunk_bits = bits // blocks
    mask = (1 << chunk_bits) - 1
    chunks = signatures.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_idx"),
                    F.shiftrightunsigned(F.col("simhash"), c * chunk_bits)
                    .bitwiseAND(F.lit(mask)).alias("chunk_val"),
                )
                for c in range(blocks)
            ])
        ).alias("cc"),
    ).select(id_col, "simhash", "cc.chunk_idx", "cc.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b").hint("shuffle_hash")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, on=["chunk_idx", "chunk_val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_overlap: float = 0.5,
) -> DataFrame:
    """Benchmark/eval contamination check: train docs whose distinct word
    ``n``-gram shingles overlap the TEST SET's shingle union by
    >= ``min_overlap``.

    Returns (id, n_shingles, n_shared, overlap) for flagged train docs.

    Scale shape: both sides reduce to (key, shingle-hash) pair streams;
    the overlap is a shingle-keyed semi join + one groupBy — shuffle
    carries 8-byte xxhash64 keys, never the n-gram strings, and the test
    side is pre-deduplicated so its size is its distinct-shingle count
    (not |test docs| × shingles). No broadcast assumption: a 100 TB test
    split shuffles like any other join side; AQE flips small test sets to
    broadcast on its own. This decontamination shape (n-gram overlap vs
    the eval set) follows the published Gopher/GPT-3 filtering recipes.
    """
    tr = explode_shingles(train, id_col, text_col, n).withColumn(
        "_h", F.xxhash64("shingle")).drop("shingle")
    te = (explode_shingles(test, id_col, text_col, n)
          .select(F.xxhash64("shingle").alias("_h")).distinct())
    tr = tr.persist()  # feeds both the size agg and the overlap join
    sizes = tr.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (
        tr.join(te, "_h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    frac = F.col("n_shared") / F.col("n_shingles")
    return (
        sizes.join(shared, id_col)
        .filter(frac >= min_overlap)
        .select(id_col, "n_shingles", "n_shared", frac.alias("overlap"))
    )


def contamination_screened(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_overlap: float = 0.5,
    n_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "decon",
) -> DataFrame:
    """:func:`contamination` with a Bloom pre-screen — EXACTLY the
    same output (sketch-then-confirm, the :func:`~.sketches.
    heavy_hitters` pattern), but the corpus side never joins unless it
    has to: the test set's distinct shingles build a few-MB Bloom
    filter, every train shingle probes it MAP-ONLY (broadcast word
    table, zero shuffle of the corpus), and only docs whose PROBE-hit
    fraction reaches ``min_overlap`` proceed to the exact shingle
    join. Sound because the filter has no false negatives: per doc,
    probe hits >= true shared shingles, so the screened-out docs
    provably sit below the threshold and the survivors are a superset
    of the flagged set — the exact confirm then returns precisely
    ``contamination(train, test)``. False positives only inflate the
    confirm's input (fraction ~fill^k), never the output.

    When it pays: the standard decontamination run — a 100 TB corpus
    against a benchmark suite whose shingle vocabulary fits a filter —
    where :func:`contamination`'s shingle-keyed semi join shuffles
    every corpus shingle and this shuffles only the suspects'.
    """
    te_sh = (explode_shingles(test, id_col, text_col, n)
             .select("shingle").distinct())
    from .sketches import bloom_filter, bloom_might_contain

    bloom = bloom_filter(te_sh, "shingle", n_bits=n_bits, k=k,
                         salt=salt)
    tr_sh = explode_shingles(train, id_col, text_col, n)
    probed = bloom_might_contain(bloom, tr_sh, "shingle",
                                 n_bits=n_bits, k=k, salt=salt)
    per = probed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__ns"),
        F.sum(F.col("might_contain").cast("long")).alias("__nm"))
    survivors = (per.filter(F.col("__nm") / F.col("__ns")
                            >= min_overlap)
                 .select(id_col))
    return contamination(train.join(survivors, id_col, "left_semi"),
                         test, id_col, text_col, n=n,
                         min_overlap=min_overlap)


def incremental_dedup(
    new_batch: DataFrame,
    corpus_index: DataFrame,
    id_col: str,
    *,
    fp_col: str = "fingerprint",
    tie_breaker: Optional[str] = None,
) -> DataFrame:
    """Admit only rows of ``new_batch`` whose fingerprint is neither
    already in ``corpus_index`` (one anti join) nor duplicated earlier in
    the batch itself (one group window keyed by fingerprint, min
    ``tie_breaker``/``id_col`` wins).

    The streaming/batch-append face of exact dedup: the corpus index is
    the running (fingerprint) table a pipeline maintains; at 100 TB both
    sides bucket by fingerprint so the anti join is co-located, and the
    index never rescans the corpus — it grows by exactly the admitted
    rows (union the result's fingerprints back). ``new_batch`` must
    already carry ``fp_col`` (e.g. ``text.fingerprint``) so callers
    control the normalization.
    """
    order = tie_breaker or id_col
    fresh = new_batch.join(
        corpus_index.select(fp_col), on=fp_col, how="left_anti")
    w = Window.partitionBy(fp_col).orderBy(F.col(order).asc())
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    n-gram shingles whose global first occurrence (minimum ``id_col``
    among all docs containing the shingle) is this document — a
    contribution score for dedup-aware curation: near-1 docs bring
    fresh content, near-0 docs are recombinations of text the corpus
    already has (they'd survive exact AND pairwise near-dup removal,
    which only see whole-doc similarity). The id-order convention
    matches the module's keep-lowest-id canonicalization.

    Returns (id, n_shingles, n_novel, novelty).

    Scale shape: the linear posting-list pattern — explode shingles,
    ONE groupBy(shingle) for first-owners, join back on the shingle key
    (exchange-reusable: both sides hash-partitioned on shingle), one
    per-doc agg. No pair materialization, no self-join — this is the
    O(corpus) screen, not a quadratic search.
    """
    pairs = explode_shingles(df, id_col, text_col, n=n)
    firsts = pairs.groupBy("shingle").agg(F.min(id_col).alias("__first"))
    return (
        pairs.join(firsts, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.sum((F.col(id_col) == F.col("__first")).cast("long"))
             .alias("n_novel"))
        .select(F.col(id_col), "n_shingles", "n_novel",
                F.round(F.col("n_novel") / F.col("n_shingles"), 4)
                .alias("novelty"))
    )
