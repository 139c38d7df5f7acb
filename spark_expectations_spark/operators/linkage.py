"""Record linkage / entity resolution: blocked fuzzy joins.

Not in the reference (its join surface is exact equi-joins inside
query_dq rules); this is the net-new scale operator family for matching
dirty identifiers across sources — supplier names vs a master list,
crawl titles vs a canonical catalog, user-typed entities vs a gazetteer.

The scale contract everywhere here: NEVER all-pairs. Candidate pairs
come from redundant BLOCKING keys (cheap deterministic keys both sides
compute; only rows sharing a key ever meet — one equi-shuffle per
side), then the survivors are VERIFIED with an exact edit-distance
predicate that runs JVM-side (``F.levenshtein`` — whole-stage codegen,
no UDF). Candidate volume is Σ per-block left×right, bounded by block
granularity, not n².

Recall is exactly "the pair shares ≥1 blocking key":

* ``prefix`` — first ``prefix_len`` chars. Misses pairs whose edit
  touches those chars. O(1) keys/row.
* ``length`` — ``len // length_bucket``. Misses pairs straddling a
  bucket boundary (pair with another blocker). O(1) keys/row.
* ``soundex`` — phonetic (Spark's SOUNDEX; English-centric). Catches
  transcription variants prefix blocking misses. O(1) keys/row.
* ``ngram`` — every character ``q``-gram is a key: PROVABLE recall for
  edit distance ≤ d when both strings have > d·q q-grams (each edit
  destroys ≤ q grams, so some gram survives in both), at the price of
  ~len keys per row. The q-gram-blocking bound from the similarity-join
  literature (PPJoin/ed-join family).

Two scale refinements on top of the base blockers:

* COMPOSITE keys — a tuple inside ``blockers`` (e.g. ``("prefix",
  "length")`` as ONE element) concatenates its members into a single
  conjunctive key: a pair meets only when EVERY member matches. This is
  how ``length`` is meant to be used at scale: standalone, ``len//4``
  has a few dozen distinct values over ANY corpus, so its blocks are
  ~n/30 rows and the candidate volume is ~n²/30 — a near-cross-join.
  As a conjunctive refinement of a higher-entropy key it cheaply
  shrinks blocks instead. (Standalone ``length`` stays allowed for
  small reference lists; don't ship it against a corpus.)
* RARE-GRAM PREFIX FILTERING (``prefix_filter=True`` on the join) —
  the ed-join/PPJoin prefix-filter: under a global gram order (document
  frequency asc, gram asc), two strings within d edits must share one
  of their ``d·q + 1`` RAREST grams, so only those grams become keys.
  Keys/row drop from ~len to d·q+1 AND the surviving keys are the
  rarest (smallest blocks) — the difference between q-gram blocking
  that works at 100 TB and one that melts on low-entropy text.
"""

from __future__ import annotations

from typing import Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["blocking_keys", "blocked_fuzzy_join", "fuzzy_self_pairs",
           "set_similarity_join", "set_similarity_self_pairs",
           "blocking_quality_report",
           "blocking_index", "probe_blocking_index",
           "fs_score_pairs", "fs_estimate_mu", "weighted_cosine_join"]

_BLOCKERS = ("prefix", "length", "soundex", "ngram")

Blocker = Union[str, Sequence[str]]


def _norm(key: Column) -> Column:
    return F.trim(F.lower(key))


def _single_blocker(n: Column, b: str, prefix_len: int,
                    length_bucket: int, ngram_q: int) -> Column:
    """``array<string>`` of tagged keys for ONE named blocker over the
    already-normalized string ``n``."""
    if b == "prefix":
        return F.array(
            F.concat(F.lit("p:"), F.substring(n, 1, prefix_len)))
    if b == "length":
        return F.array(F.concat(
            F.lit("l:"),
            F.floor(F.length(n) / length_bucket).cast("string")))
    if b == "soundex":
        return F.array(F.concat(F.lit("s:"), F.soundex(n)))
    # ngram
    m = F.greatest(F.length(n) - (ngram_q - 1), F.lit(1))
    idx = F.sequence(F.lit(1), m)
    return F.array_distinct(F.transform(
        idx, lambda i: F.concat(F.lit("g:"), n.substr(i, F.lit(ngram_q)))))


def _validate_blockers(blockers: Sequence[Blocker]) -> None:
    if not blockers:
        raise ValueError("need at least one blocker")
    flat: list[str] = []
    for b in blockers:
        if isinstance(b, str):
            flat.append(b)
        else:
            if not b:
                raise ValueError("empty composite blocker ()")
            flat.extend(b)
    bad = set(flat) - set(_BLOCKERS)
    if bad:
        raise ValueError(f"unknown blockers {sorted(bad)}; "
                         f"choose from {_BLOCKERS}")


def blocking_keys(
    key: Column,
    *,
    blockers: Sequence[Blocker] = ("prefix", "length"),
    prefix_len: int = 2,
    length_bucket: int = 4,
    ngram_q: int = 3,
) -> Column:
    """``array<string>`` of blocking keys for a (normalized: lower +
    trim) string — the candidate-generation side of
    :func:`blocked_fuzzy_join`, exposed so an index table can be built
    once and reused across probe batches. Each key is tagged with its
    blocker (``p:``/``l:``/``s:``/``g:``) so different blockers never
    collide. An element of ``blockers`` may itself be a tuple of
    blocker names — a CONJUNCTIVE composite whose member keys are
    joined with ``+`` into one key (candidates must match every
    member; the scale-correct way to use ``length``, see the module
    docstring). NULL/empty keys produce an empty array."""
    _validate_blockers(blockers)
    n = _norm(key)
    parts: list[Column] = []
    for b in blockers:
        if isinstance(b, str):
            parts.append(_single_blocker(n, b, prefix_len,
                                         length_bucket, ngram_q))
            continue
        acc = _single_blocker(n, b[0], prefix_len, length_bucket, ngram_q)
        for m in b[1:]:
            # NOTE: the outer lambda must stay single-parameter — a
            # 2-arg lambda is read by F.transform as (element, index).
            # Closure capture of nxt is safe: F.transform invokes the
            # lambda immediately while building the expression.
            nxt = _single_blocker(n, m, prefix_len, length_bucket,
                                  ngram_q)
            acc = F.flatten(F.transform(
                acc, lambda a: F.transform(
                    nxt, lambda x: F.concat(a, F.lit("+"), x))))
        parts.append(acc)
    keys = F.array_distinct(F.concat(*parts)) if len(parts) > 1 \
        else F.array_distinct(parts[0])
    return F.when(n.isNull() | (F.length(n) == 0),
                  F.array().cast("array<string>")).otherwise(keys)


def blocked_fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_key: str,
    right_id: str,
    right_key: str,
    *,
    max_distance: int = 2,
    blockers: Sequence[Blocker] = ("prefix", "length"),
    prefix_len: int = 2,
    length_bucket: int = 4,
    ngram_q: int = 3,
    prefix_filter: bool = False,
) -> DataFrame:
    """Approximate-match join: pairs whose normalized keys are within
    ``max_distance`` Levenshtein edits AND share at least one blocking
    key. Returns ``(left_id, right_id, left_key, right_key, distance)``
    with the ORIGINAL (un-normalized) key strings and the exact edit
    distance; one row per matched pair regardless of how many blocks it
    met in.

    Scale shape: explode each side to (block_key, id, norm) — the only
    corpus-sized frames, rows × n_blockers — one equi-join on the block
    key (hash-shuffled both sides; candidate volume is per-block
    left×right, bounded by block granularity), then VERIFY-THEN-DEDUP:
    the edit-distance gate runs MAP-SIDE on the raw candidate stream
    (threshold-pruned codegen ``levenshtein(l, r, max_distance)`` —
    the O(d·len) early-abandon DP, -1 when the bound is exceeded), and
    only the SURVIVING matches reach the pair-keyed ``dropDuplicates``
    shuffle. A pair that meets in several blocks re-verifies once per
    block (cheap, map-side); the alternative — dedup first — shuffles
    the entire candidate set, which is the dominant cost precisely
    when blocking is coarse. No all-pairs anywhere; no Python on the
    data path. The classic blocking-based record-linkage layout
    (Fellegi-Sunter pipelines, PPJoin-family similarity joins) on
    Spark primitives.

    Recall contract: a true match is FOUND iff the two normalized keys
    share ≥1 blocking key — see the module docstring for each
    blocker's miss modes (``ngram`` is the provable-recall option).

    ``prefix_filter=True`` (requires ``blockers=("ngram",)``) applies
    ed-join/PPJoin rare-gram prefix filtering: gram document
    frequencies are counted over BOTH sides, and each row keeps only
    its ``max_distance·ngram_q + 1`` rarest grams (global order:
    df asc, gram asc — deterministic, reproducible by a SQL engine) as
    blocking keys. Recall is UNCHANGED — d edits destroy ≤ d·q grams,
    so two in-distance strings must still share a kept gram — but
    keys/row drop from ~len to d·q+1 and the kept grams are the ones
    with the SMALLEST blocks. Costs one extra gram-keyed aggregation +
    join and an id-keyed window; buys q-gram blocking that survives
    low-entropy text at corpus scale.
    """
    kw = dict(blockers=blockers, prefix_len=prefix_len,
              length_bucket=length_bucket, ngram_q=ngram_q)
    lk, rk = F.col(left_key), F.col(right_key)
    lex = left.select(
        F.col(left_id).alias("__lid"), lk.alias("__lkey"),
        _norm(lk).alias("__ln"),
        F.explode(blocking_keys(lk, **kw)).alias("__b"))
    rex = right.select(
        F.col(right_id).alias("__rid"), rk.alias("__rkey"),
        _norm(rk).alias("__rn"),
        F.explode(blocking_keys(rk, **kw)).alias("__b"))
    if prefix_filter:
        if tuple(blockers) != ("ngram",):
            raise ValueError(
                "prefix_filter requires blockers=('ngram',) — the "
                "rarest-gram guarantee is specific to q-gram keys")
        from pyspark.storagelevel import StorageLevel

        keep = max_distance * ngram_q + 1
        # the gram-frequency table is consumed by BOTH sides' rank
        # joins; unpersisted it would re-run the double corpus explode
        # + aggregation twice. It is vocab-sized — the cheapest frame
        # in the plan to pin.
        freq = (lex.select("__b").unionByName(rex.select("__b"))
                .groupBy("__b").agg(F.count(F.lit(1)).alias("__df"))
                .persist(StorageLevel.MEMORY_AND_DISK))
        wl = Window.partitionBy("__lid").orderBy("__df", "__b")
        wr = Window.partitionBy("__rid").orderBy("__df", "__b")
        lex = (lex.join(freq, "__b")
               .withColumn("__rk", F.row_number().over(wl))
               .filter(F.col("__rk") <= keep).drop("__df", "__rk"))
        rex = (rex.join(freq, "__b")
               .withColumn("__rk", F.row_number().over(wr))
               .filter(F.col("__rk") <= keep).drop("__df", "__rk"))
    cand = lex.join(rex, "__b")
    dist = F.levenshtein("__ln", "__rn", max_distance)
    return (cand
            .withColumn("distance", dist)
            .filter(F.col("distance") >= 0)
            .dropDuplicates(["__lid", "__rid"])
            .select(F.col("__lid").alias(left_id),
                    F.col("__rid").alias(right_id),
                    F.col("__lkey").alias(left_key),
                    F.col("__rkey").alias(right_key),
                    "distance"))


def fuzzy_self_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    *,
    max_distance: int = 2,
    blockers: Sequence[Blocker] = ("prefix", "length"),
    prefix_len: int = 2,
    length_bucket: int = 4,
    ngram_q: int = 3,
    prefix_filter: bool = False,
) -> DataFrame:
    """Within-corpus near-identical key pairs — the self-join wrapper
    over :func:`blocked_fuzzy_join` with the ``id_a < id_b`` canonical
    ordering (each unordered pair once, no self-matches). The fuzzy
    upgrade of exact-key dedup for identifier columns: catches typos
    and truncations exact grouping can't."""
    out = blocked_fuzzy_join(
        df.select(F.col(id_col).alias("id_a"),
                  F.col(key_col).alias("key_a")),
        df.select(F.col(id_col).alias("id_b"),
                  F.col(key_col).alias("key_b")),
        "id_a", "key_a", "id_b", "key_b",
        max_distance=max_distance, blockers=blockers,
        prefix_len=prefix_len, length_bucket=length_bucket,
        ngram_q=ngram_q, prefix_filter=prefix_filter)
    return out.filter(F.col("id_a") < F.col("id_b"))


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    *,
    window: int = 4,
    max_distance: int | None = None,
    num_buckets: int = 256,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández & Stolfo
    1995): rank every record by its normalized key (lower + trim, like
    every blocker here), then pair each record with the ``window − 1``
    records that FOLLOW it in sort order. The classic third blocker
    family beside prefix/q-gram and set-similarity: key-agnostic (no
    prefix length or gram size to tune), catches typos anywhere in the
    string as long as the sort still lands the variants near each
    other, and its candidate count is EXACTLY ``n·(window−1)`` —
    linear, skew-proof, budget-predictable — where value-keyed
    blockers can degenerate on low-entropy keys. Run multiple passes
    with different sort keys (name, reversed name, zip+street) and
    union the pairs for recall; each pass is independent.

    Returns ``(left_id, right_id, left_key, right_key,
    rank_distance)`` with left = the lower rank (each unordered pair
    once); with ``max_distance`` set, also ``distance`` (Levenshtein
    over normalized keys, pairs over the budget dropped) — the same
    verify contract as :func:`blocked_fuzzy_join`. NULL/empty keys are
    excluded (they have no meaningful sort position). Ties in the
    normalized key break by id, so ranks — and therefore the pair set
    — are total-order deterministic and value-oracle-checkable.

    Scale shape: the global rank comes from
    :func:`~..sampling.dense_global_index`'s two-phase bucket trick
    (NO single-task global sort; the numeric bucketing lead is the
    key's first 7 bytes as an integer — monotone-with-ties in the
    string order, which is all bucketing needs since the within-bucket
    sort uses the full key). Pairing is WINDOW-CARRIED (the r14
    set-similarity trick, applied here per the r14 verdict task 6):
    the contiguous rank axis is cut into fixed blocks, each row lands
    in its own block as a probe and — when it sits in a block's first
    ``window−1`` ranks — ALSO in the previous block as a right-only
    carry-in (one explode, the index is scanned once), so every
    ``(r, r+j)`` pair materializes inside exactly one block of ONE
    block-partitioned window whose ``rowsBetween(1, window−1)`` frame
    carries the neighbor ``(rank, id, key)`` structs. Replaces the
    old rank-keyed self-join back into the corpus: ~n·(1 + (window−1)
    /block) rows shuffle once instead of ~n·window join-side rows
    (same-session exact-equivalence A/B in SCALE.md). Everything is
    n·window, nothing is n².
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    if max_distance is not None and max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    from .sampling import dense_global_index

    n = _norm(F.col(key_col))
    base = (df.select(F.col(id_col).alias("__id"), n.alias("__k"))
            .filter(F.col("__k").isNotNull() & (F.length("__k") > 0)))
    # numeric lead for the bucket phase: the first 7 BYTES of the
    # UTF-8 encoding as a big-endian integer, zero-padded in hex space
    # so short keys stay left-aligned ("b" must bucket after "ab").
    # Bytes, not characters: 7 multibyte CHARS can be 28 hex digits —
    # past 2^63 the long cast NULLs and a non-ASCII key would silently
    # bucket before every ASCII one, losing exactly the typo pairs the
    # blocker exists to find. 7 bytes = 14 hex digits = 2^56, always
    # positive, and monotone-with-ties in the binary collation both
    # Spark and DuckDB sort strings by.
    lead = F.conv(F.rpad(F.substring(F.hex(F.encode(F.col("__k"),
                                                    "UTF-8")),
                                     1, 14), 14, "0"),
                  16, 10).cast("long")
    idx = dense_global_index(
        base.withColumn("__lead", lead), ["__lead", "__k", "__id"],
        out="__rank", num_buckets=num_buckets).drop("__lead")
    # window-carried pairing: ranks are contiguous 0-based, so block
    # b holds ranks [b*B, (b+1)*B) plus the next block's first
    # window-1 ranks as right-only carry-ins — the frame below then
    # sees ranks r+1..r+window-1 for EVERY probe row, block-internal
    # or not, and each unordered pair materializes exactly once
    B = max(window, 4096)
    blk = F.floor(F.col("__rank") / F.lit(B)).cast("long")
    placements = F.when(
        (F.col("__rank") % B < window - 1) & (blk > 0),
        F.array(F.struct(blk.alias("b"), F.lit(True).alias("p")),
                F.struct((blk - 1).alias("b"), F.lit(False).alias("p")))
    ).otherwise(F.array(F.struct(blk.alias("b"), F.lit(True).alias("p"))))
    both = (idx.select("__id", "__k", "__rank",
                       F.explode(placements).alias("__e"))
            .select("__id", "__k", "__rank",
                    F.col("__e.b").alias("__blk"),
                    F.col("__e.p").alias("__probe")))
    wN = (Window.partitionBy("__blk").orderBy("__rank")
          .rowsBetween(1, window - 1))
    out = (both
           .withColumn("__nbrs",
                       F.collect_list(F.struct("__rank", "__id", "__k"))
                       .over(wN))
           .filter(F.col("__probe"))
           .select(F.col("__id").alias("left_id"),
                   F.col("__k").alias("left_key"),
                   F.col("__rank").alias("__lrank"),
                   F.explode("__nbrs").alias("__r"))
           .select("left_id",
                   F.col("__r.__id").alias("right_id"),
                   "left_key",
                   F.col("__r.__k").alias("right_key"),
                   (F.col("__r.__rank") - F.col("__lrank"))
                   .alias("rank_distance")))
    if max_distance is not None:
        out = (out.withColumn(
            "distance", F.levenshtein("left_key", "right_key"))
            .filter(F.col("distance") <= max_distance))
    return out


def set_similarity_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_set: str,
    right_id: str,
    right_set: str,
    *,
    threshold: float = 0.8,
    hash_tokens: bool = False,
) -> DataFrame:
    """Set-similarity join with PPJoin-family prefix filtering (Xiao et
    al. 2008 / Chaudhuri et al. SSJoin): pairs whose token SETS have
    Jaccard >= ``threshold``. ``left_set``/``right_set`` are
    ``array<string>`` columns treated as sets (``array_distinct``
    applied; NULL/empty sets match nothing). Returns
    ``(left_id, right_id, n_common, jaccard)``, one row per pair. The
    token-set sibling of :func:`blocked_fuzzy_join`'s edit-distance
    join — shingle sets, word sets, q-gram sets all fit.

    ``hash_tokens=True`` runs the whole pipeline in the md5-60 token
    image (``conv(substr(md5(tok), 1, 15), 16, 10)`` — the repo's
    md5_48/phash convention, replayable in SQL engines): the hash is
    computed ONCE per exploded token as a plain codegen row expression
    (never a per-element array lambda), and every downstream stage —
    the vocab aggregation, the rank windows, the prefix equi-join, the
    carried verify arrays, ``array_intersect`` — operates on 8-byte
    longs instead of shingle strings. Same-session exact-equivalence
    A/B at sf0.1: 4.75 s → 3.11 s, dominated by the candidate join
    shuffling ~2.5× narrower array rows (SCALE.md round-14 ledger).
    Semantics: token equality becomes hash equality — two distinct
    tokens colliding in 60 bits would merge (P ≈ vocab²/2^61; ~4e-10
    at a 30k-shingle vocab, still negligible at billion-token
    vocabularies). Prefer it for long tokens (shingles); leave False
    when tokens are short or exact string semantics are contractual.

    Candidate generation is the PREFIX FILTER, not all-pairs: under a
    global token order (document frequency asc, token asc — computed
    over both sides in one vocab-sized aggregation), a record of set
    size s contributes only its ``s - ceil(t*s) + 1`` rarest tokens as
    join keys. Two sets with Jaccard >= t must share a prefix token
    (removing fewer than ceil(t*s) tokens cannot empty the overlap), so
    recall is exact. Two more PPJoin filters ride the join condition,
    both recall-safe: the LENGTH filter (Jaccard >= t forces
    t*|b| <= |a| <= |b|/t) and the POSITIONAL filter (a meet on token
    ranks (pa, pb) can reach at most min(sa-pa, sb-pb)+1 overlap vs
    the ceil(t/(1+t)*(sa+sb)) requirement; the first shared token of a
    true pair always passes, so per-meet pruning never loses a pair).

    Scale shape: one token-keyed aggregation (vocab-sized output) + an
    id-keyed window per side that, in ONE sort, ranks each row's
    tokens AND carries the row's size and full df-sorted token array
    (``count``/``collect_list`` over the unbounded frame of the same
    window spec — Spark evaluates all three functions in a single
    Window operator). Then ONE equi-join on prefix tokens with the
    length predicate inline, map-side exact verify (``array_intersect``
    on the carried arrays — integer |A∩B| and |A∪B| = sa + sb - |A∩B|,
    so the Jaccard compare is cross-engine exact), and a pair-dedup
    shuffle over MATCHES only (verify-then-dedup, as in
    blocked_fuzzy_join). The window-carried arrays replaced the r10
    shape's join-back-to-corpus per side (two corpus-scale shuffles
    gone; same-session exact-equivalence A/B at sf0.1: 4.42 s → 3.41 s,
    SCALE.md round-14 ledger). Candidate rows carry both token arrays;
    the prefix+length+positional filters keep that stream narrow — for
    corpora where even filtered candidates are wide,
    ``operators.dedup.jaccard_pairs`` is the posting-list
    (arrays-never-join) self-join alternative.

    Persist policy (r10 verdict task 4 — measured per frame, min-of-3
    idle A/B at sf0.1): ONLY the vocab-sized token-frequency table
    persists. It is consumed by BOTH sides' prefix-rank windows, so
    the persist saves re-running the double corpus explode +
    aggregation (persist-all 6.75 s / no-persist 8.20 s /
    freq-only 5.63 s — SCALE.md). The corpus-sized normalized (id,
    set, size) frames do NOT persist: their consuming branches
    share identical subtrees that exchange reuse deduplicates, and at
    100 TB materializing set-carrying corpus frames is the
    memory/disk-pressure loss a map-only recompute avoids."""
    from pyspark.storagelevel import StorageLevel

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    t = float(threshold)
    # explode the set EXPRESSION, not a projected column: explode drops
    # NULL and empty sets itself, and over an attribute Catalyst infers
    # a size(set) > 0 filter from the Generate and pushes it below any
    # repartition into the scan — a second, single-task pass of the
    # caller's set build
    ltok = left.select(F.col(left_id).alias("__lid"),
                       F.explode(F.array_distinct(F.col(left_set)))
                       .alias("__tok"))
    rtok = right.select(F.col(right_id).alias("__rid"),
                        F.explode(F.array_distinct(F.col(right_set)))
                        .alias("__tok"))
    if hash_tokens:
        # md5-60 image on the EXPLODED rows — a codegen row expression
        # evaluated once per token, not an array lambda per element
        h = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10) \
            .cast("long")
        ltok = ltok.select("__lid", h.alias("__tok"))
        rtok = rtok.select("__rid", h.alias("__tok"))
    # vocab-sized and consumed by both prefix-rank joins — persist so
    # the double corpus explode + aggregation runs once (the one frame
    # the sf0.1 A/B showed is worth pinning; see the docstring)
    freq = (ltok.select("__tok").unionByName(rtok.select("__tok"))
            .groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
            .persist(StorageLevel.MEMORY_AND_DISK))
    def _prefix_rows(tok_stream, id_col, rk_out, s_out, arr_out):
        """(id, tok, rank, size, df-sorted token array) rows kept to
        the prefix bound rank <= s - ceil(t*s) + 1. Rank + size +
        df-sorted array come from ONE window sort: the unbounded-frame
        count/collect_list share the rank's partitioning and ordering,
        so no join back to L/R is needed to recover the row's set for
        the verify (the collect_list rebuilds it, df-sorted —
        array_intersect is order-independent, so the verify is
        unchanged)."""
        w = Window.partitionBy(id_col).orderBy("__df", "__tok")
        w_all = w.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
        return (tok_stream.join(freq, "__tok")
                .select(id_col, "__tok",
                        F.row_number().over(w).alias(rk_out),
                        F.count(F.lit(1)).over(w_all).alias(s_out),
                        F.collect_list("__tok").over(w_all)
                        .alias(arr_out))
                .filter(F.col(rk_out) <= F.col(s_out)
                        - F.ceil(F.lit(t) * F.col(s_out)) + 1))

    lpre = _prefix_rows(ltok, "__lid", "__rka", "__sa", "__la")
    rpre = _prefix_rows(rtok, "__rid", "__rkb", "__sb", "__ra")
    length_ok = ((F.col("__sa") >= F.lit(t) * F.col("__sb"))
                 & (F.col("__sb") >= F.lit(t) * F.col("__sa")))
    # PPJoin POSITIONAL filter: a meet on ranks (pa, pb) can reach at
    # most min(sa-pa, sb-pb)+1 overlap; Jaccard >= t needs
    # ceil(t/(1+t)*(sa+sb)). Per-meet pruning is recall-safe — for a
    # true pair the FIRST shared token in the global order passes both
    # the prefix and positional bounds (Xiao et al. 2008), so at least
    # one meet always survives to the verify. The 1e-9 slack guards a
    # float-up ceil at exact-integer thresholds (over-pruning is the
    # only unsafe direction; under-pruning just verifies a few more).
    alpha = F.ceil(F.lit(t / (1.0 + t))
                   * (F.col("__sa") + F.col("__sb")) - F.lit(1e-9))
    positional_ok = (
        F.least(F.col("__sa") - F.col("__rka"),
                F.col("__sb") - F.col("__rkb")) + 1 >= alpha)
    cand = lpre.join(rpre, "__tok").filter(length_ok & positional_ok)
    inter = F.size(F.array_intersect("__la", "__ra"))
    jac = (F.col("__n_common")
           / (F.col("__sa") + F.col("__sb") - F.col("__n_common")))
    return (cand
            .withColumn("__n_common", inter)
            .withColumn("__jac", jac)
            .filter(F.col("__jac") >= t)
            .dropDuplicates(["__lid", "__rid"])
            .select(F.col("__lid").alias(left_id),
                    F.col("__rid").alias(right_id),
                    F.col("__n_common").alias("n_common"),
                    F.col("__jac").alias("jaccard")))


def blocking_quality_report(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_key: str,
    right_id: str,
    right_key: str,
    *,
    max_distance: int = 2,
    blockers: Sequence[Blocker] = ("prefix", "length"),
    prefix_len: int = 2,
    length_bucket: int = 4,
    ngram_q: int = 3,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """Measure a blocking configuration before trusting it — the
    linkage twin of ``dedup.lsh_quality_report``. Returns ONE row:
    ``(n_left, n_right, n_candidates, reduction_ratio, n_true,
    n_caught, pairs_completeness)`` where

    * ``n_candidates`` — distinct id pairs sharing >= 1 blocking key
      (what :func:`blocked_fuzzy_join` would verify),
    * ``reduction_ratio`` — 1 − candidates/(n_left·n_right): how much
      of the all-pairs space blocking prunes (the cost axis),
    * ``pairs_completeness`` — the fraction of TRUE matches (exact
      all-pairs levenshtein <= ``max_distance`` on the measured frames)
      that blocking keeps (the recall axis; NULL when no true pairs).

    The truth side is a CROSS JOIN — quadratic BY DESIGN, and the one
    place in this module allowed to be: ``sample_fraction < 1`` applies
    :func:`~.sampling.deterministic_sample` (md5-keyed, rerun-stable)
    to BOTH sides before ANY measurement, so candidates, truth, and the
    two ratios all describe the same subsample and the verdict
    transfers as a rate. The default 1.0 is for test-sized frames only
    — same contract and guard as lsh_quality_report.

    Scale shape: the blocking side is the candidate pair-dedup count
    (one explode + equi-join + distinct agg); the truth side is
    sample²·levenshtein, map-side after one broadcast-able cross join
    of sample-sized frames; the report assembles five 1-row aggregates
    (scalar broadcasts, linter-demoted)."""
    if not 0.0 < sample_fraction <= 1.0:
        raise ValueError("sample_fraction must be in (0, 1]")
    if sample_fraction < 1.0:
        from .sampling import deterministic_sample
        left = deterministic_sample(left, left_id, sample_fraction)
        right = deterministic_sample(right, right_id, sample_fraction)
    kw = dict(blockers=blockers, prefix_len=prefix_len,
              length_bucket=length_bucket, ngram_q=ngram_q)
    lk, rk = F.col(left_key), F.col(right_key)
    L = (left.select(F.col(left_id).alias("__lid"), _norm(lk).alias("__ln"),
                     blocking_keys(lk, **kw).alias("__bk"))
         .filter(F.col("__ln").isNotNull() & (F.length("__ln") > 0)))
    R = (right.select(F.col(right_id).alias("__rid"),
                      _norm(rk).alias("__rn"),
                      blocking_keys(rk, **kw).alias("__bk"))
          .filter(F.col("__rn").isNotNull() & (F.length("__rn") > 0)))
    lex = L.select("__lid", F.explode("__bk").alias("__b"))
    rex = R.select("__rid", F.explode("__bk").alias("__b"))
    cand = (lex.join(rex, "__b").select("__lid", "__rid").distinct())
    truth = (L.select("__lid", "__ln")
             .crossJoin(R.select("__rid", "__rn"))
             .filter(F.levenshtein("__ln", "__rn", max_distance) >= 0)
             .select("__lid", "__rid"))
    caught = truth.join(cand, ["__lid", "__rid"], "left_semi")
    nl = L.agg(F.count(F.lit(1)).alias("n_left"))
    nr = R.agg(F.count(F.lit(1)).alias("n_right"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_true"))
    ng = caught.agg(F.count(F.lit(1)).alias("n_caught"))
    out = (nl.crossJoin(F.broadcast(nr)).crossJoin(F.broadcast(nc))
           .crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(ng)))
    prod = F.col("n_left").cast("double") * F.col("n_right")
    return out.select(
        "n_left", "n_right", "n_candidates",
        F.when(prod > 0, F.lit(1.0) - F.col("n_candidates") / prod)
         .alias("reduction_ratio"),
        "n_true", "n_caught",
        F.when(F.col("n_true") > 0,
               F.col("n_caught") / F.col("n_true").cast("double"))
         .alias("pairs_completeness"))


def blocking_index(
    df: DataFrame,
    id_col: str,
    key_col: str,
    *,
    blockers: Sequence[Blocker] = ("prefix", "length"),
    prefix_len: int = 2,
    length_bucket: int = 4,
    ngram_q: int = 3,
) -> DataFrame:
    """The persistable half of incremental linkage: explode a master
    list ONCE to its ``(block_key, id, norm_key, orig_key)`` rows —
    write this to a table (ideally bucketed by ``block_key``) and every
    future probe batch joins against it without the master corpus ever
    being re-normalized or re-keyed. The linkage analogue of
    ``dedup.minhash_signatures``'s standing index; pair with
    :func:`probe_blocking_index`. The blocker configuration is baked
    into the index — probe with the SAME settings (store them in table
    properties; a mismatched probe silently under-recalls)."""
    k = F.col(key_col)
    return df.select(
        F.col(id_col).alias("index_id"),
        k.alias("index_key"),
        _norm(k).alias("index_norm"),
        F.explode(blocking_keys(
            k, blockers=blockers, prefix_len=prefix_len,
            length_bucket=length_bucket, ngram_q=ngram_q)).alias("block_key"))


def probe_blocking_index(
    index: DataFrame,
    probe: DataFrame,
    probe_id: str,
    probe_key: str,
    *,
    max_distance: int = 2,
    blockers: Sequence[Blocker] = ("prefix", "length"),
    prefix_len: int = 2,
    length_bucket: int = 4,
    ngram_q: int = 3,
) -> DataFrame:
    """Fuzzy-match a (typically small) probe batch against a standing
    :func:`blocking_index` — the steady-state shape of master-list
    linkage: the index side is touched only through its persisted key
    table (pre-bucketed on ``block_key``, even its exchange
    disappears), the probe side explodes and — small by contract —
    AQE-broadcasts into the join. Returns ``(probe_id, index_id,
    probe_key, index_key, distance)``, one row per matched pair, same
    verify-then-dedup + threshold-levenshtein contract as
    :func:`blocked_fuzzy_join` (whose single-shot output this exactly
    reproduces when the index was built with the same blockers)."""
    pk = F.col(probe_key)
    pex = probe.select(
        F.col(probe_id).alias("__pid"), pk.alias("__pkey"),
        _norm(pk).alias("__pn"),
        F.explode(blocking_keys(
            pk, blockers=blockers, prefix_len=prefix_len,
            length_bucket=length_bucket, ngram_q=ngram_q)).alias("block_key"))
    dist = F.levenshtein("__pn", "index_norm", max_distance)
    return (pex.join(index, "block_key")
            .withColumn("distance", dist)
            .filter(F.col("distance") >= 0)
            .dropDuplicates(["__pid", "index_id"])
            .select(F.col("__pid").alias(probe_id),
                    "index_id",
                    F.col("__pkey").alias(probe_key),
                    "index_key",
                    "distance"))


def set_similarity_self_pairs(
    df: DataFrame,
    id_col: str,
    set_col: str,
    *,
    threshold: float = 0.8,
) -> DataFrame:
    """Within-corpus near-identical token-set pairs — the self-join
    wrapper over :func:`set_similarity_join` with the ``id_a < id_b``
    canonical ordering (each unordered pair once, no self-matches);
    the set-Jaccard sibling of :func:`fuzzy_self_pairs`. For shingled
    TEXT self-dedup prefer ``dedup.jaccard_pairs`` (posting lists,
    arrays never shuffle); this wrapper is for corpora that already
    carry token-set columns (tags, attribute sets, ingredient lists)."""
    out = set_similarity_join(
        df.select(F.col(id_col).alias("id_a"),
                  F.col(set_col).alias("set_a")),
        df.select(F.col(id_col).alias("id_b"),
                  F.col(set_col).alias("set_b")),
        "id_a", "set_a", "id_b", "set_b", threshold=threshold)
    return out.filter(F.col("id_a") < F.col("id_b"))


def fs_score_pairs(
    pairs: DataFrame,
    agreement_cols: Sequence[str],
    m: Sequence[float],
    u: Sequence[float],
    *,
    lower: float = 0.0,
    upper: float = 4.0,
    out_col: str = "match_weight",
) -> DataFrame:
    """Fellegi-Sunter match scoring — the probabilistic DECISION layer
    over candidate pairs from any blocking scheme: each boolean
    agreement column i (name matched? zip matched? phone matched?)
    contributes ``log2(m_i/u_i)`` on agreement and
    ``log2((1-m_i)/(1-u_i))`` on disagreement, where ``m_i``/``u_i``
    are the field's agreement probabilities among true matches /
    non-matches (supply known values or estimate with
    :func:`fs_estimate_mu`). Adds ``out_col`` (the summed log2 weight)
    and ``decision`` — 'match' above ``upper``, 'non_match' below
    ``lower``, 'possible' between (the clerical-review band). NULL
    agreements count as disagreement (absence of evidence is not
    agreement — the conservative Fellegi-Sunter convention).

    Scale shape: one zero-shuffle codegen projection over the pairs
    frame; the model is 2k scalar literals. Validation pins
    0 < u_i < m_i < 1 — an inverted pair silently flips the weight
    sign."""
    if not agreement_cols:
        raise ValueError("need at least one agreement column")
    if len(m) != len(agreement_cols) or len(u) != len(agreement_cols):
        raise ValueError("m/u must match agreement_cols length")
    import math

    w = None
    for col, mi, ui in zip(agreement_cols, m, u):
        if not 0.0 < ui < mi < 1.0:
            raise ValueError(
                f"field {col!r}: need 0 < u ({ui}) < m ({mi}) < 1")
        agree = F.coalesce(F.col(col).cast("boolean"), F.lit(False))
        term = F.when(agree, F.lit(math.log2(mi / ui))) \
            .otherwise(F.lit(math.log2((1 - mi) / (1 - ui))))
        w = term if w is None else w + term
    decision = (F.when(F.col(out_col) >= upper, F.lit("match"))
                .when(F.col(out_col) < lower, F.lit("non_match"))
                .otherwise(F.lit("possible")))
    return (pairs.withColumn(out_col, w)
            .withColumn("decision", decision))


def fs_estimate_mu(
    pairs: DataFrame,
    agreement_cols: Sequence[str],
    *,
    match_prior: float = 0.1,
    m0: float = 0.9,
    u0: float = 0.1,
    iters: int = 30,
) -> tuple:
    """Estimate the Fellegi-Sunter ``(m, u)`` field probabilities from
    UNLABELED candidate pairs with the classic EM under conditional
    independence (Winkler's formulation): the E-step weighs each
    agreement PATTERN by its posterior match probability, the M-step
    re-estimates per-field m/u and the match proportion from the
    weighted pattern counts. Returns ``(m, u, p)`` as plain lists +
    float, ready for :func:`fs_score_pairs`.

    Scale shape: ONE distributed job — a groupBy over the k boolean
    agreement columns whose output is at most 2^k pattern rows
    (model-scale; collected like a PQ codebook or BPE vocab) — then
    driver-side EM over those counts. 100 TB of pairs contributes
    nothing but the pattern histogram. NULL agreements fold to
    disagreement, matching the scoring convention."""
    if not agreement_cols:
        raise ValueError("need at least one agreement column")
    if not 0.0 < match_prior < 1.0:
        raise ValueError("match_prior must be in (0, 1)")
    k = len(agreement_cols)
    gcols = [F.coalesce(F.col(c).cast("boolean"), F.lit(False)).alias(c)
             for c in agreement_cols]
    rows = (pairs.select(*gcols)
            .groupBy(*agreement_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect())
    pats = [tuple(bool(r[c]) for c in agreement_cols) for r in rows]
    cnts = [float(r["__n"]) for r in rows]
    n = sum(cnts)
    if n == 0:
        raise ValueError("no candidate pairs to estimate from")
    m = [m0] * k
    u = [u0] * k
    p = float(match_prior)
    eps = 1e-9
    for _ in range(iters):
        # E-step: posterior P(match | pattern)
        w = []
        for g in pats:
            pm = p
            pu = 1.0 - p
            for i, gi in enumerate(g):
                pm *= m[i] if gi else (1.0 - m[i])
                pu *= u[i] if gi else (1.0 - u[i])
            w.append(pm / max(pm + pu, eps))
        # M-step
        tot_m = sum(wi * c for wi, c in zip(w, cnts))
        tot_u = sum((1 - wi) * c for wi, c in zip(w, cnts))
        for i in range(k):
            num_m = sum(wi * c for wi, c, g in zip(w, cnts, pats) if g[i])
            num_u = sum((1 - wi) * c
                        for wi, c, g in zip(w, cnts, pats) if g[i])
            m[i] = min(max(num_m / max(tot_m, eps), eps), 1 - eps)
            u[i] = min(max(num_u / max(tot_u, eps), eps), 1 - eps)
        p = min(max(tot_m / n, eps), 1 - eps)
    return m, u, p


def weighted_cosine_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_set: str,
    right_id: str,
    right_set: str,
    weights: DataFrame,
    *,
    threshold: float = 0.8,
    hash_tokens: bool = False,
) -> DataFrame:
    """Weighted set-similarity join — cosine over token weights
    (Bayardo et al. WWW'07 all-pairs similarity search, the
    production near-dup variant when token importance varies): pairs
    whose weighted token sets satisfy
    ``cos(A, B) = Σ_{t∈A∩B} w_t² / (‖A‖·‖B‖) >= threshold`` where
    ``‖X‖ = sqrt(Σ_{t∈X} w_t²)``. ``weights`` is a (token, weight)
    frame — idf from :func:`~..text.term_weights`, hand-tuned field
    weights, anything positive; tokens absent from it contribute
    nothing (weight 0), and a token with several positive weight rows
    takes the largest. Returns ``(left_id, right_id, n_common, dot,
    cosine)``.

    ``hash_tokens=True`` runs the pipeline in the md5-60 token image
    (:func:`set_similarity_join`'s r14 device) — available for parity,
    but MEASURED to LOSE under the r16 posting-list shape (same-session
    exact-equivalence A/B at sf0.1: 3.46 s strings vs 4.19 s hashed):
    the md5 evaluation over two corpus-token streams cost more than
    the narrower join keys saved. The r17 carried-array verify changes
    the trade — tokens now ride the verify arrays — so re-measure
    before flipping it; prefer it only when tokens are very long
    (shingles) AND the weights table is reused pre-hashed.

    Candidate generation is the weighted PREFIX filter: under the
    global token order (document frequency asc, token asc), a row
    keeps token position i only while the SUFFIX still could supply
    the threshold — ``Σ_{j>=i} w_j² >= t²·‖A‖²`` (equivalently the
    exclusive prefix sum ``<= (1−t²)·‖A‖²``). If every shared token
    sat beyond A's kept prefix, cos ≤ ‖A_suffix‖/‖A‖ < t — so A's
    first shared token is always kept, and joining A's KEPT tokens
    against B's FULL tokens loses no pair (the asymmetric
    index-prefix/probe-full layout distributed all-pairs uses). All
    bound comparisons are products and sums — no square roots — so
    with integer (or otherwise exactly-representable) weights the
    pruning and the verify are bit-identical across engines; the only
    sqrt is the output cosine.

    Scale shape: one vocab-sized weight join per side, a token-keyed
    df aggregation, ONE groupBy per side building the id's norm AND
    its sorted (token, w2) struct array together, the prefix window,
    ONE candidate equi-join (kept-prefix × full), pair-dedup BEFORE
    the verify, then two id-keyed joins attach the carried arrays ONCE
    PER PAIR and the verify runs map-side on the pair row —
    ``array_intersect`` + a w2 fold, ``dot² >= t²·‖A‖²·‖B‖²`` as the
    exact gate (r17; the previous verify re-joined the pairs into both
    corpus-token streams and paid a (rid, tok) sort-merge + pair
    groupBy that the r16 decomposition measured at 31.6 of the
    operator's 35.4 cpu-s).
    NOTHING here persists (r10 verdict task 4 — measured, not
    assumed): the weighted token frames feed the norm, prefix, and
    verify branches, but those branches share identical subtrees that
    AQE resolves through exchange reuse, and the frames are
    corpus×tokens-sized — materializing them cost more than the saved
    recompute at every measured scale (min-of-3 idle A/B at sf0.1:
    persist-all 5.99 s, freq-persist-only 5.10 s, no-persist 4.59 s;
    SCALE.md), and at 100 TB pinning an exploded corpus is exactly the
    memory/disk pressure a map-only recompute avoids. The df table is
    consumed by ONE rank path here (unlike :func:`set_similarity_join`,
    where it feeds both sides' windows and keeps its persist)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    t2 = float(threshold) * float(threshold)
    w2 = (weights.filter(F.col(weights.columns[1]) > 0)
          .select(F.col(weights.columns[0]).alias("__tok"),
                  (F.col(weights.columns[1]).cast("double")
                   * F.col(weights.columns[1]).cast("double"))
                  .alias("__w2")))
    lt = (left.select(F.col(left_id).alias("__lid"),
                      F.explode(F.array_distinct(F.col(left_set)))
                      .alias("__tok")))
    rt = (right.select(F.col(right_id).alias("__rid"),
                       F.explode(F.array_distinct(F.col(right_set)))
                       .alias("__tok")))
    if hash_tokens:
        # md5-60 token image (set_similarity_join's r14 device): the
        # weight table, both token streams, the df aggregation, the
        # prefix window, and BOTH verify joins run on 8-byte longs
        # instead of token strings — the hash is a codegen row
        # expression on already-exploded rows. A 60-bit collision
        # would merge two tokens (P ≈ vocab²/2^61 — see
        # set_similarity_join); the per-token max below keeps even
        # that deterministic.
        h = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10) \
            .cast("long")
        lt = lt.select("__lid", h.alias("__tok"))
        rt = rt.select("__rid", h.alias("__tok"))
        w2 = w2.select(h.alias("__tok"), "__w2")
    # ONE weight per token: duplicate weight rows would otherwise fan
    # each token row out in the joins below and inflate the norms and
    # the dot product. Pinned semantics: the largest weight wins. A
    # weights frame built by a groupBy on its token column already
    # satisfies this aggregation's distribution, so it plans no
    # exchange of its own.
    w2 = w2.groupBy("__tok").agg(F.max("__w2").alias("__w2"))
    lw = lt.join(w2, "__tok")
    rw = rt.join(w2, "__tok")
    # per-id norm AND carried weighted-token array from ONE groupBy per
    # side (r17, guide §2.4/§3 — the carried-array verify the r16
    # decomposition deferred): the old verify joined the candidate
    # pairs back into BOTH corpus-token streams (cand ⋈ lw by id, then
    # ⋈ rw by (rid, tok) — a corpus-wide sort-merge — then a pair
    # groupBy), which the r16 stage decomposition priced at 31.6 of
    # the operator's 35.4 cpu-s. Carrying each id's weighted tokens as
    # one sorted array makes the verify a MAP-SIDE array_intersect +
    # fold on the pair row: the (rid, tok) join, the pair groupBy, and
    # the two separate norm joins all disappear.
    #
    # ENCODING, load-bearing: each element is the STRING
    # ``tok <0x01> w2`` — NOT a (tok, w2) struct. array_intersect only
    # takes its codegen hash-set path for types with proper equals
    # (atomic types); struct elements fall back to the interpreted
    # O(|A|·|B|) ordering scan, which a same-window A/B measured at
    # 49.8 s vs the string form's sub-old baseline (8× WORSE than the
    # verify join it replaces). Equal tokens carry equal w2 (both
    # sides read the same weights table) so string equality is token
    # equality; the w2 suffix parses back exactly (Java double
    # toString/parse round-trip), and substring_index from the END
    # keeps a separator inside a token harmless. sort_array fixes the
    # collect_list order, so the verify fold is deterministic
    # left-to-right (the old groupBy SUM was order-nondeterministic;
    # with the documented exactly-representable weights both are
    # exact).
    enc = F.concat(F.col("__tok").cast("string"), F.lit("\x01"),
                   F.col("__w2").cast("string"))
    larr = lw.groupBy("__lid").agg(
        F.sum("__w2").alias("__na"),
        F.sort_array(F.collect_list(enc)).alias("__lset"))
    rarr = rw.groupBy("__rid").agg(
        F.sum("__w2").alias("__nb"),
        F.sort_array(F.collect_list(enc)).alias("__rset"))
    freq = (lw.select("__tok").unionByName(rw.select("__tok"))
            .groupBy("__tok").agg(F.count(F.lit(1)).alias("__df")))
    wpre = (Window.partitionBy("__lid").orderBy("__df", "__tok")
            .rowsBetween(Window.unboundedPreceding, -1))
    # the row's FULL norm rides the same window sort (unbounded frame)
    # instead of joining lnorm back onto the corpus-token stream — the
    # freq join is inner but lossless here (freq is built from lw∪rw,
    # so every lw token has a df row), making the window total equal
    # to lnorm's __na exactly (the set_similarity_join r14 device)
    w_all = (Window.partitionBy("__lid").orderBy("__df", "__tok")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    lpre = (lw.join(freq, "__tok")
            .select("__lid", "__tok",
                    F.coalesce(F.sum("__w2").over(wpre),
                               F.lit(0.0)).alias("__pre"),
                    F.sum("__w2").over(w_all).alias("__naw"))
            .filter(F.col("__pre") <= (1.0 - t2) * F.col("__naw"))
            .select("__lid", "__tok"))
    cand = (lpre.join(rt, "__tok")
            .select("__lid", "__rid").distinct())
    # map-side verify on the pair row: the encoded-string intersection
    # IS the token intersection (see the encoding note above), dot is
    # a deterministic fold parsing each element's w2 suffix back. A
    # candidate pair always shares its meeting prefix token, so the
    # intersection is never empty and the inner larr/rarr joins lose
    # nothing (every cand lid ∈ lw; every cand rid matched a weighted
    # token, hence ∈ rw).
    inter = F.array_intersect("__lset", "__rset")
    out = (cand.join(larr, "__lid").join(rarr, "__rid")
           .withColumn("__int", inter)
           .withColumn("__dot",
                       F.aggregate(
                           "__int", F.lit(0.0),
                           lambda acc, x: acc + F.substring_index(
                               x, "\x01", -1).cast("double")))
           .filter(F.col("__dot") * F.col("__dot")
                   >= F.lit(t2) * F.col("__na") * F.col("__nb"))
           .select(F.col("__lid").alias(left_id),
                   F.col("__rid").alias(right_id),
                   F.size("__int").alias("n_common"),
                   F.col("__dot").alias("dot"),
                   (F.col("__dot")
                    / F.sqrt(F.col("__na") * F.col("__nb")))
                   .alias("cosine")))
    return out
