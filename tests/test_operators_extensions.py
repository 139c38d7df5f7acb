"""Tests for dedup / similarity / text / multimodal operators."""

import math
import random

import pytest
from pyspark.sql import functions as F

from spark_expectations_spark.operators import (dedup, drift, graph, multimodal,
                                                similarity, text)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def _docs(spark):
    # yield + unpersist: a lingering cache would swap InMemoryRelation
    # into other modules' scans and break their plan pins
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def _emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


# .cache() does nothing on a plan that is already cached; after a test
# that called spark.catalog.clearCache() it puts the cache back, so the
# plan pins that count one InMemoryTableScan hold in any test order
@pytest.fixture
def docs(_docs):
    return _docs.cache()


@pytest.fixture
def emb(_emb):
    return _emb.cache()


class TestDedup:
    def test_exact_keeps_min_tiebreaker(self, spark):
        df = spark.createDataFrame(
            [(3, "x"), (1, "x"), (2, "y")], "id int, t string")
        out = dedup.dedup_exact(df, ["t"], tie_breaker="id")
        assert {r["id"] for r in out.collect()} == {1, 2}

    def test_exact_no_subset(self, spark):
        df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "id int, t string")
        assert dedup.dedup_exact(df).count() == 2

    def test_shingles(self, spark):
        df = spark.createDataFrame([("a b c d",)], "t string")
        row = df.select(dedup.shingles_col(F.col("t"), 3).alias("s")).first()
        assert sorted(row["s"]) == ["a b c", "b c d"]
        short = spark.createDataFrame([("a b",)], "t string")
        row = short.select(dedup.shingles_col(F.col("t"), 3).alias("s")).first()
        assert row["s"] == ["a b"]

    def test_jaccard_identical_docs(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
             (3, "completely different text here now")],
            "doc_id int, text string")
        pairs = dedup.jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
        assert len(pairs) == 1
        assert (pairs[0]["id_a"], pairs[0]["id_b"]) == (1, 2)
        assert pairs[0]["jaccard"] == 1.0

    def test_minhash_agrees_with_jaccard(self, docs):
        """LSH+minhash estimates should track exact Jaccard on real docs."""
        exact = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in dedup.jaccard_pairs(docs, "doc_id", "text",
                                              n=3, threshold=0.5).collect()}
        est = {(r["id_a"], r["id_b"]): r["est_jaccard"]
               for r in dedup.minhash_dedup_pairs(docs, "doc_id", "text", n=3,
                                                  threshold=0.3).collect()}
        # every strongly-similar exact pair must be recalled by LSH
        for pair, j in exact.items():
            assert pair in est, f"missed near-dup {pair} (jaccard={j})"
            assert abs(est[pair] - j) < 0.35

    def test_simhash_identical_docs_zero_distance(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
             (3, "zeta eta theta iota")],
            "doc_id int, text string")
        sigs = dedup.simhash_signatures(df, "doc_id", "text")
        pairs = dedup.simhash_near_pairs(sigs, "doc_id", max_hamming=0).collect()
        assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def _old_pair_expr():
    """The pre-r16 nested-HOF pair expansion, kept here as the
    equivalence reference for posting_list_pairs."""
    return F.explode(F.flatten(F.transform(
        F.col("ids"),
        lambda a, i: F.transform(
            F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
            lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
        ),
    )))


class TestPostingListPairs:
    def test_matches_nested_hof_on_random_lists(self, spark):
        rng = random.Random(7)
        rows = [(i, sorted(rng.sample(range(500), rng.randint(2, 30))))
                for i in range(80)]
        df = spark.createDataFrame(rows, "k int, ids array<int>")
        old = sorted(
            tuple(r) for r in
            df.select(_old_pair_expr().alias("p")).select("p.*").collect())
        new = sorted(tuple(r) for r in dedup.posting_list_pairs(df).collect())
        assert new == old and len(new) > 100

    def test_singleton_and_empty_lists_emit_nothing(self, spark):
        df = spark.createDataFrame(
            [(1, [5]), (2, []), (3, [7, 9])], "k int, ids array<int>")
        got = sorted(tuple(r)
                     for r in dedup.posting_list_pairs(df).collect())
        assert got == [(7, 9)]

    def test_string_ids_preserved(self, spark):
        df = spark.createDataFrame([(1, ["a", "b", "c"])],
                                   "k int, ids array<string>")
        got = sorted(tuple(r)
                     for r in dedup.posting_list_pairs(df).collect())
        assert got == [("a", "b"), ("a", "c"), ("b", "c")]


class TestPostingListPairsSalt:
    def test_identical_hot_lists_unchanged_pairs(self, spark):
        # several rows carrying the SAME ids array (the LSH multi-band
        # collision shape) must still expand to the same multiset of
        # pairs after the salted repartition
        ids = list(range(12))
        df = spark.createDataFrame([(b, ids) for b in range(5)],
                                   "band int, ids array<int>")
        got = sorted(tuple(r) for r in dedup.posting_list_pairs(
            df, salt_cols=["band"]).collect())
        one = sorted((a, b) for i, a in enumerate(ids)
                     for b in ids[i + 1:])
        assert got == sorted(one * 5)


class TestMinhashSignaturesSqlAggs:
    """r16: minhash_signatures builds its K seeded-hash aggregates as
    SQL strings (the Column loop cost ~12 py4j round trips per hash).
    Pin signature equality against the Column-loop reference for both
    hash families."""

    def test_bit_equal_both_families(self, spark):
        from spark_expectations_spark.operators import dedup as D
        rows = [(i, f"doc {i % 7} text {' '.join(str(j) for j in range(i % 9))}")
                for i in range(60)] + [(100, None), (101, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        def ref(df, fam, k=8):
            first = F.xxhash64("shingle") if fam == "xxhash64" \
                else D.hash48_md5(F.col("shingle"))
            ex = D.explode_shingles(df, "doc_id", "text", 3).select(
                "doc_id", first.alias("sh"))
            aggs = [F.min(D._seeded_hash(F.col("sh"), i, fam)).alias(f"h{i}")
                    for i in range(k)]
            return ex.groupBy("doc_id").agg(*aggs)

        for fam in ("xxhash64", "md5_48"):
            o = sorted(map(tuple, ref(df, fam).collect()))
            n = sorted(map(tuple, D.minhash_signatures(
                df, "doc_id", "text", n=3, num_hashes=8,
                hash_family=fam).collect()))
            assert o == n, fam


class TestDupSpanCoverage:
    def test_known_shared_passage_coverage(self, spark):
        """docs 1/2 share the 3-gram 'a b c' -> exactly its 3 token
        positions are covered in each (0.5 of 6 tokens); doc 3 is
        unrelated; doc 4 repeats a gram only WITHIN itself (cross-doc
        contract: not counted); doc 5 is shorter than n (no grams)."""
        from spark_expectations_spark.operators import dedup
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "x y a b c z"), (3, "p q r s"),
             (4, "m n o m n o m n o"), (5, "u v")],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in dedup.dup_span_coverage(
            df, "doc_id", "text", n=3).collect()}
        assert (got[1]["covered_tokens"], got[1]["n_tokens"]) == (3, 6)
        assert got[1]["dup_token_frac"] == pytest.approx(0.5)
        assert got[2]["covered_tokens"] == 3
        assert got[3]["covered_tokens"] == 0
        assert got[4]["covered_tokens"] == 0   # self-repetition excluded
        assert (got[5]["covered_tokens"], got[5]["n_tokens"]) == (0, 2)

    def test_overlapping_spans_union_not_sum(self, spark):
        """Two overlapping duplicated grams must cover the UNION of
        their positions — the interval-union semantics that
        distinguishes token coverage from shingle counting."""
        from spark_expectations_spark.operators import dedup
        # docs share the 4-token passage 'a b c d' -> duplicated grams
        # 'a b c' and 'b c d' overlap in positions {1, 2}
        df = spark.createDataFrame(
            [(1, "a b c d x"), (2, "y a b c d")],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in dedup.dup_span_coverage(
            df, "doc_id", "text", n=3).collect()}
        assert got[1]["covered_tokens"] == 4   # not 6
        assert got[2]["covered_tokens"] == 4
        with pytest.raises(ValueError, match="n must"):
            dedup.dup_span_coverage(df, "doc_id", "text", n=0)

    def test_null_text_keeps_null_counts(self, spark):
        """Review fix: legacy size(NULL) = -1 leaked out as
        n_tokens=-1 / dup_token_frac=-0.0 for NULL-text docs; SQL
        semantics (and the oracle) say NULL."""
        from spark_expectations_spark.operators import dedup
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, None)], "doc_id long, text string")
        got = {r["doc_id"]: r for r in dedup.dup_span_coverage(
            df, "doc_id", "text", n=3).collect()}
        assert got[2]["n_tokens"] is None
        assert got[2]["covered_tokens"] == 0
        assert got[2]["dup_token_frac"] is None
        assert got[1]["n_tokens"] == 4


class TestRemoveDupSpans:
    def test_keeps_first_occurrence_removes_the_rest(self, spark):
        """docs 1/2/3 share the 3-gram 'a b c'; doc 1 holds the
        globally-first occurrence and keeps it, docs 2/3 lose exactly
        those 3 token positions; unrelated doc 4 untouched."""
        from spark_expectations_spark.operators import dedup
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "x y a b c z"),
             (3, "a b c p q"), (4, "p q r s")],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in dedup.remove_dup_spans(
            df, "doc_id", "text", n=3).collect()}
        assert got[1]["dedup_text"] == "a b c d e f"
        assert got[1]["removed_tokens"] == 0
        assert got[2]["dedup_text"] == "x y z"
        assert (got[2]["n_tokens"], got[2]["removed_tokens"]) == (6, 3)
        assert got[3]["dedup_text"] == "p q"
        assert got[4]["dedup_text"] == "p q r s"

    def test_overlapping_spans_union_and_full_removal(self, spark):
        """Overlapping duplicated grams excise the UNION of their
        positions; a doc that is entirely a later copy rebuilds to ''."""
        from spark_expectations_spark.operators import dedup
        df = spark.createDataFrame(
            [(1, "a b c d x"), (2, "a b c d")],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in dedup.remove_dup_spans(
            df, "doc_id", "text", n=3).collect()}
        assert got[1]["dedup_text"] == "a b c d x"
        assert got[2]["dedup_text"] == ""
        assert got[2]["removed_tokens"] == 4

    def test_short_null_and_families_agree(self, spark):
        from spark_expectations_spark.operators import dedup
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "q a b c d e"), (3, "a b"),
             (4, None)],
            "doc_id long, text string")
        by_family = {}
        for fam in ("xxhash64", "md5_48", "exact"):
            rows = {r["doc_id"]: (r["dedup_text"], r["removed_tokens"])
                    for r in dedup.remove_dup_spans(
                        df, "doc_id", "text", n=3,
                        hash_family=fam).collect()}
            by_family[fam] = rows
        assert by_family["xxhash64"] == by_family["exact"]
        assert by_family["md5_48"] == by_family["exact"]
        got = by_family["exact"]
        assert got[3] == ("a b", 0)            # shorter than n
        assert got[4] == (None, None)          # NULL passthrough
        assert got[2][0] == "q"
        with pytest.raises(ValueError, match="n must"):
            dedup.remove_dup_spans(df, "doc_id", "text", n=0)

    def test_consistent_with_coverage_metric(self, spark):
        """The measurement/removal contract: for every doc, tokens
        removed <= tokens the coverage phase marks duplicated (the
        first-occurrence exemption is the only difference), and a doc
        with zero coverage removes zero."""
        from spark_expectations_spark.operators import dedup
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "x y a b c z"), (3, "a b c p q"),
             (4, "p q r s"), (5, "u v")],
            "doc_id long, text string")
        cov = {r["doc_id"]: r["covered_tokens"]
               for r in dedup.dup_span_coverage(
                   df, "doc_id", "text", n=3).collect()}
        rem = {r["doc_id"]: r["removed_tokens"]
               for r in dedup.remove_dup_spans(
                   df, "doc_id", "text", n=3).collect()}
        for d in cov:
            assert rem[d] <= cov[d]
        assert sum(1 for d in cov if cov[d] > 0 and rem[d] < cov[d]) == 1


class TestHashFamilyPairParity:
    """r5 verdict task 6: the xxhash64 catalog twins (dedup_minhash /
    dedup_simhash) are declared rows-only — no DuckDB oracle can follow
    xxhash64. The hash family changes SIGNATURES, not candidate
    semantics, so on a fixture with clean separation (near-identical
    clusters vs unrelated docs) both families must surface exactly the
    ground-truth duplicate pairs — closing the 'rows-only = unverified
    semantics' gap without an oracle."""

    @staticmethod
    def _fixture(spark):
        base_a = "the quick brown fox jumps over the lazy dog " * 4
        base_b = "pack my box with five dozen liquor jugs today " * 4
        base_c = "how vexingly quick daft zebras jump around here " * 4
        rows = [
            (1, base_a), (2, base_a + "extra"),          # cluster {1,2}
            (3, base_b), (4, base_b + "tail"),           # cluster {3,4}
            (5, base_c),                                  # singleton
            (6, "completely different content about spark catalyst"),
            (7, "unrelated words describing dinner recipes and wine"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    WANT = {(1, 2), (3, 4)}

    def test_minhash_pair_sets_match_across_hash_families(self, spark):
        from spark_expectations_spark.operators import dedup
        df = self._fixture(spark)
        got = {}
        for fam in ("xxhash64", "md5_48"):
            pairs = dedup.minhash_dedup_pairs(
                df, "doc_id", "text", n=3, num_hashes=64, bands=16,
                threshold=0.3, hash_family=fam)
            got[fam] = {tuple(sorted((r["id_a"], r["id_b"])))
                        for r in pairs.collect()}
        assert got["xxhash64"] == got["md5_48"] == self.WANT

    def test_simhash_pair_sets_match_across_hash_families(self, spark):
        """SimHash flips a bit wherever a token edit crosses a zero bit
        sum, so single-token near-dups sit at a hash-family-dependent
        hamming distance — the family-invariant ground truth is EXACT
        duplicates (hamming 0 under any token hash) vs unrelated docs
        (hamming ~ bits/2, far outside the radius)."""
        from spark_expectations_spark.operators import dedup
        base_a = "the quick brown fox jumps over the lazy dog " * 4
        base_b = "pack my box with five dozen liquor jugs today " * 4
        rows = [(1, base_a), (2, base_a),              # exact dup {1,2}
                (3, base_b), (4, base_b),              # exact dup {3,4}
                (5, "how vexingly quick daft zebras jump around here"),
                (6, "completely different content about spark catalyst"),
                (7, "unrelated words describing dinner recipes and wine")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {}
        for fam in ("xxhash64", "md5_48"):
            sigs = dedup.simhash_signatures(
                df, "doc_id", "text", bits=48, hash_family=fam)
            pairs = dedup.simhash_near_pairs(
                sigs, "doc_id", max_hamming=3, bits=48, blocks=4)
            got[fam] = {tuple(sorted((r["id_a"], r["id_b"])))
                        for r in pairs.collect()}
        assert got["xxhash64"] == got["md5_48"] == self.WANT


def _brute_topk(corpus, queries, k, id_col="vec_id", vec_col="embedding"):
    """``{(query_id, rank): neighbor_id}`` of an exact cosine top-k with
    self excluded, by numpy brute force over the collected rows: one
    untiled product of unit rows, ranked by (-cosine, neighbor id)."""
    import numpy as np

    def unit(df):
        rows = [(r[id_col], r[vec_col]) for r in df.collect()]
        m = np.array([v for _, v in rows], dtype=np.float64)
        return ([i for i, _ in rows],
                m / np.linalg.norm(m, axis=1, keepdims=True))

    c_ids, c_unit = unit(corpus)
    q_ids, q_unit = unit(queries)
    sims = q_unit @ c_unit.T
    want = {}
    for qi, qid in enumerate(q_ids):
        ranked = sorted((-sims[qi, j], nid) for j, nid in enumerate(c_ids)
                        if nid != qid)
        for rank, (_, nid) in enumerate(ranked[:k], start=1):
            want[(qid, rank)] = nid
    return want


class TestSimilarity:
    def test_topk_matches_hof_reference(self, emb):
        fast = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=4)
        f = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in fast.collect()}
        s = _brute_topk(emb, emb.filter(F.col("vec_id") < 3), k=4)
        assert f == s

    def test_self_similarity_excluded(self, emb):
        out = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 5), k=3)
        assert all(r["neighbor_id"] != 5 for r in out.collect())

    def test_near_dup_symmetric_threshold(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])],
            "vec_id long, embedding array<float>")
        pairs = similarity.near_duplicate_pairs(df, threshold=0.99).collect()
        assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]

    def test_ivf_recall_vs_exact(self, emb):
        """IVF with nprobe=all must equal exact brute force."""
        cents = similarity.train_centroids_df(emb, by_col="label")
        assigned = emb.withColumn("centroid_id", F.col("label"))
        q = emb.filter(F.col("vec_id") < 3)
        exact = similarity.cosine_topk(emb, q, k=3)
        approx = similarity.ivf_topk(assigned, cents, q, k=3, nprobe=10)
        e = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in exact.collect()}
        a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in approx.collect()}
        assert e == a

    def test_blocked_pairs_match_exact(self, emb):
        """blocked_near_duplicate_pairs is exact: identical pair set and
        cosines to the broadcast operator, including a chunk size that
        doesn't divide the group and a num_blocks that doesn't divide n."""
        exact = sorted(
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in similarity.near_duplicate_pairs(emb, threshold=0.9).collect())
        for blocks, chunk in ((4, 37), (3, 4096)):
            blocked = sorted(
                (r["id_a"], r["id_b"], round(r["cosine"], 9))
                for r in similarity.blocked_near_duplicate_pairs(
                    emb, threshold=0.9, num_blocks=blocks, chunk=chunk).collect())
            assert blocked == exact

    def test_semdedup_keep_rule_and_cluster_blindness(self, spark):
        """SemDeDup keeps the lowest-id member of each within-cell
        ε-group and — by design — cannot see near-dups that straddle
        cells (4 and 6 are ε-close but assigned to different centroids)."""
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "centroid_id long, centroid array<float>")
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (4, [0.71, 0.704]),
             (5, [0.0, 1.0]), (6, [0.704, 0.71]), (7, [0.01, 0.999])],
            "vec_id long, embedding array<float>")
        kept = similarity.semdedup(df, threshold=0.999, centroids=cents)
        rows = {r["vec_id"]: r["centroid_id"] for r in kept.collect()}
        assert set(rows) == {1, 4, 5, 6}
        assert rows[1] == 0 and rows[4] == 0 and rows[5] == 1 and rows[6] == 1

    def test_assign_centroids_string_ids(self, spark):
        """Centroid ids of any orderable type work — the argmax fold is
        comparison-based, not arithmetic (a negate-the-id trick would
        crash or null out string labels)."""
        cents = spark.createDataFrame(
            [("en", [1.0, 0.0]), ("fr", [0.0, 1.0])],
            "centroid_id string, centroid array<float>")
        df = spark.createDataFrame(
            [(1, [0.9, 0.1]), (2, [0.1, 0.9]), (3, [0.7, 0.7])],
            "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r["centroid_id"]
               for r in similarity.assign_centroids(df, cents).collect()}
        # vec 3 ties exactly (0.7, 0.7): lowest id 'en' wins
        assert got == {1: "en", 2: "fr", 3: "en"}

    def test_semdedup_string_ids_and_centroids(self, spark):
        """Round-5 ADVICE fix: semdedup_pairs derives its output schema
        from the input id/centroid types instead of hardcoding longs —
        a string-labeled codebook plus string doc ids runs end-to-end."""
        cents = spark.createDataFrame(
            [("en", [1.0, 0.0]), ("fr", [0.0, 1.0])],
            "centroid_id string, centroid array<float>")
        df = spark.createDataFrame(
            [("doc-a", [1.0, 0.0]), ("doc-b", [0.999, 0.01]),
             ("doc-c", [0.0, 1.0]), ("doc-d", [0.01, 0.999])],
            "vec_id string, embedding array<float>")
        pairs = similarity.semdedup_pairs(
            df, cents, threshold=0.99).collect()
        got = {(r["id_a"], r["id_b"], r["centroid_id"]) for r in pairs}
        assert got == {("doc-a", "doc-b", "en"), ("doc-c", "doc-d", "fr")}
        kept = similarity.semdedup(df, threshold=0.99, centroids=cents)
        assert {r["vec_id"] for r in kept.collect()} == {"doc-a", "doc-c"}

    # the three corpus-wide pair searches, each called the way its own
    # contract needs (blocked with tiles smaller than a group, bucketed
    # over 2-dim vectors)
    PAIR_SEARCHES = {
        "broadcast": lambda df: similarity.near_duplicate_pairs(
            df, threshold=0.99),
        "blocked": lambda df: similarity.blocked_near_duplicate_pairs(
            df, threshold=0.99, num_blocks=3, chunk=2),
        "bucketed": lambda df: similarity.bucketed_near_duplicate_pairs(
            df, dim=2, threshold=0.99),
    }

    @pytest.mark.parametrize("search", [*PAIR_SEARCHES, "semdedup"])
    def test_null_vectors_are_in_no_pair(self, spark, search):
        """A row whose vector is NULL has no cosine, so it is in no pair
        in any tier; semdedup keeps such rows, as it keeps every row
        without a lower-id near-dup."""
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, None), (4, None),
             (5, [0.0, 1.0])],
            "vec_id long, embedding array<float>")
        if search == "semdedup":
            cents = spark.createDataFrame(
                [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                "centroid_id long, centroid array<float>")
            kept = similarity.semdedup(df, threshold=0.99, centroids=cents)
            assert {r["vec_id"] for r in kept.collect()} == {1, 3, 4, 5}
            return
        pairs = self.PAIR_SEARCHES[search](df).collect()
        assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]

    @pytest.mark.parametrize("search", list(PAIR_SEARCHES))
    def test_pair_searches_keep_string_ids(self, spark, search):
        """Every tier types its ids from the input schema, as
        semdedup_pairs does: string ids pair by string order."""
        df = spark.createDataFrame(
            [("doc-b", [0.999, 0.01]), ("doc-a", [1.0, 0.0]),
             ("doc-c", [0.0, 1.0]), ("doc-d", [0.01, 0.999])],
            "vec_id string, embedding array<float>")
        pairs = self.PAIR_SEARCHES[search](df)
        assert pairs.schema["id_a"].dataType.simpleString() == "string"
        assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {
            ("doc-a", "doc-b"), ("doc-c", "doc-d")}

    def test_topk_keeps_string_ids(self, spark):
        """cosine_topk types its ids from the input schema, as the pair
        searches do, and ranks as a numpy brute force does."""
        df = spark.createDataFrame(
            [("doc-b", [0.999, 0.01]), ("doc-a", [1.0, 0.0]),
             ("doc-c", [0.0, 1.0]), ("doc-d", [0.01, 0.999])],
            "vec_id string, embedding array<float>")
        fast = similarity.cosine_topk(df, df, k=2)
        assert fast.schema["query_id"].dataType.simpleString() == "string"
        assert fast.schema["neighbor_id"].dataType.simpleString() == \
            "string"

        ranked = {(r["query_id"], r["rank"]): r["neighbor_id"]
                  for r in fast.collect()}
        assert ranked == _brute_topk(df, df, k=2)
        assert ranked[("doc-a", 1)] == "doc-b"

    def test_no_usable_query_gives_no_rows(self, spark):
        """A query set without a usable vector gives an empty result,
        not a worker error from an empty query matrix."""
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None), (4, [0.0, 0.0])],
            "vec_id long, embedding array<double>")
        assert similarity.cosine_topk(
            df, df.filter("vec_id > 2"), k=2).count() == 0

    # one row per vector with no cosine: NULL, zero, NaN, +inf, -inf,
    # a NULL element and empty
    UNUSABLE = [None, [0.0, 0.0], [math.nan, 1.0], [math.inf, 1.0],
                [-math.inf, 1.0], [1.0, None], []]

    USABLE_OPS = {
        "cosine_topk": lambda df, cents: similarity.cosine_topk(
            df, df, k=4),
        "hard_negatives": lambda df, cents: similarity.hard_negatives(
            df, df, k=4),
        "ivf_topk": lambda df, cents: similarity.ivf_topk(
            similarity.assign_centroids(df, cents), cents, df, k=4,
            nprobe=2),
        "ivf_pq_topk": lambda df, cents: similarity.ivf_pq_topk(
            similarity.product_quantize(
                similarity.assign_centroids(df, cents),
                codebooks=[[[0.0], [1.0]], [[0.0], [1.0]]]),
            cents, df, codebooks=[[[0.0], [1.0]], [[0.0], [1.0]]], k=4,
            nprobe=2),
        "assign_centroids": lambda df, cents: similarity.assign_centroids(
            df, cents).select("vec_id", "centroid_id"),
        "assignment_quality": lambda df, cents:
            similarity.assignment_quality(df, cents),
        "kmeans_refine": lambda df, cents: similarity.kmeans_refine(
            df, cents),
    }

    @pytest.mark.parametrize("id_type", ["long", "string"])
    @pytest.mark.parametrize("op", list(USABLE_OPS))
    def test_unusable_vectors_are_in_no_result(self, spark, op, id_type):
        """A vector with no cosine is no query and no neighbor of any
        search, gets a NULL centroid_id and is left out of the
        assignment mean and the refined cell means: each operator gives
        on a corpus holding such rows exactly what it gives on the
        usable rows alone, and none raises."""
        good = [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 1), (9, [0.0, 1.0], 1)]
        bad = [(10 + i, v, i % 2) for i, v in enumerate(self.UNUSABLE)]
        key = (lambda i: i) if id_type == "long" else (lambda i: f"v{i}")

        def frame(rows):
            return spark.createDataFrame(
                [(key(i), v, lbl) for i, v, lbl in rows],
                f"vec_id {id_type}, embedding array<double>, label int")

        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "centroid_id int, centroid array<float>")
        run = self.USABLE_OPS[op]
        got, want = run(frame(good + bad), cents), run(frame(good), cents)
        if op == "assignment_quality":
            assert got == pytest.approx(want, abs=1e-12)
            return

        def rows(out):
            # cosines from batches of other shapes may differ in the last
            # bits, so floats compare to 12 places
            return [tuple(round(x, 12) if isinstance(x, float) else x
                          for x in r) for r in out.collect()]

        want_rows, got_rows = sorted(rows(want), key=repr), rows(got)
        if op == "assign_centroids":
            assert sorted((r for r in got_rows if r[1] is not None),
                          key=repr) == want_rows
            assert sorted(r[0] for r in got_rows if r[1] is None) == \
                sorted(key(i) for i, _, _ in bad)
            return
        assert len(want_rows) > 0
        assert sorted(got_rows, key=repr) == want_rows

    @pytest.mark.parametrize("square", [False, True])
    def test_pair_kernel_matches_brute_force(self, square):
        """The tiled kernel equals one untiled product, with a chunk that
        divides neither side, for a batch against a corpus (rectangular)
        and for a group against itself (square)."""
        import numpy as np

        rng = np.random.default_rng(7)

        def side(n):
            m = rng.normal(size=(n, 5))
            return (rng.permutation(100)[:n],
                    m / np.linalg.norm(m, axis=1, keepdims=True))

        ids_a, unit_a = side(23)
        ids_b, unit_b = (ids_a, unit_a) if square else side(17)
        ia, ib, cos = similarity._threshold_pairs(
            ids_a, unit_a, ids_b, unit_b, 0.2, chunk=5)
        sims = unit_a @ unit_b.T
        want_a, want_b = np.nonzero(
            (sims >= 0.2) & (ids_a[:, None] < ids_b[None, :]))
        got = sorted(zip(ids_a[ia], ids_b[ib], cos))
        want = sorted(zip(ids_a[want_a], ids_b[want_b], sims[want_a, want_b]))
        assert len(want) > 10
        assert [g[:2] for g in got] == [w[:2] for w in want]
        assert np.allclose([g[2] for g in got], [w[2] for w in want],
                           rtol=0, atol=1e-12)

    def test_nearest_kernel_matches_untiled_block(self):
        """The tiled nearest-centroid kernel equals one untiled
        ``((x - c)**2).sum`` block bit for bit, with a tile that divides
        no side, including rows tied between two equal centroids."""
        import numpy as np

        rng = np.random.default_rng(7)
        x = rng.normal(size=(23, 5))
        c = rng.normal(size=(4, 5))
        c[3] = c[1]                      # every row ties 1 vs 3 or not
        idx, dist, runner = similarity._nearest(x, c, tile=3 * 4 * 5)
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
        assert (idx == d.argmin(axis=1)).all()
        assert (dist == d.min(axis=1)).all()
        assert (runner == np.sort(d, axis=1)[:, 1]).all()
        assert 3 not in idx

    def test_nearest_kernel_orders_nan_above_inf(self):
        """Spark's order: NaN sorts above every double, +inf included;
        ties go to the lowest index; an all-NaN row takes index 0."""
        import numpy as np

        nan, inf = np.nan, np.inf
        x = np.array([[0.0], [inf], [nan], [2.0]])
        c = np.array([[nan], [inf], [1.0]])
        idx, dist, runner = similarity._nearest(x, c)
        # row 0: NaN, inf, 1 -> 2; row 1: NaN, NaN, inf -> 2;
        # row 2: all NaN -> 0; row 3: NaN, inf, 1 -> 2
        assert idx.tolist() == [2, 2, 0, 2]
        assert dist[[0, 1, 3]].tolist() == [1.0, inf, 1.0]
        assert np.isnan(dist[2])
        # the runner-up is the second in the same order
        assert runner[[0, 3]].tolist() == [inf, inf]
        assert np.isnan(runner[1])
        one = similarity._nearest(np.array([[nan], [inf]]),
                                  np.array([[nan], [0.0]]))[0]
        assert one.tolist() == [0, 1]

    def test_semdedup_consistent_with_pairs(self, emb):
        """kept == corpus minus the distinct id_b side of semdedup_pairs
        (the removal rule is exactly 'has a lower-id in-cell neighbor')."""
        cents = similarity.train_centroids_df(emb, by_col="label")
        pairs = similarity.semdedup_pairs(emb, cents, threshold=0.4)
        removed = {r["id_b"] for r in pairs.select("id_b").distinct().collect()}
        kept = {r["vec_id"] for r in
                similarity.semdedup(emb, threshold=0.4, centroids=cents).collect()}
        all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
        assert kept == all_ids - removed
        assert removed  # nontrivial on the test embeddings

    def test_bucketed_pairs_recall_vs_exact(self, emb):
        """LSH-bucketed pairs: cosines exact where found; defaults reach
        recall 1.0 on the clustered test embeddings (docstring claim)."""
        exact = {
            (r["id_a"], r["id_b"]): round(r["cosine"], 9)
            for r in similarity.near_duplicate_pairs(emb, threshold=0.9).collect()}
        bucketed = {
            (r["id_a"], r["id_b"]): round(r["cosine"], 9)
            for r in similarity.bucketed_near_duplicate_pairs(
                emb, dim=64, threshold=0.9, chunk=37).collect()}
        assert set(bucketed) <= set(exact)          # no false positives
        assert bucketed == {k: exact[k] for k in bucketed}  # exact cosines
        assert len(bucketed) == len(exact)          # recall 1.0 here

    def test_mean_pool_known_values(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (1, [3.0, 2.0]), (2, [5.0, 5.0])],
            "g long, embedding array<float>")
        out = {r["g"]: (r["n_vectors"], r["pooled"])
               for r in similarity.mean_pool(df, "g").collect()}
        assert out[1][0] == 2 and out[1][1] == [2.0, 1.0]
        assert out[2] == (1, [5.0, 5.0])

    def test_mean_pool_normalized_unit_norm(self, spark):
        import math
        df = spark.createDataFrame(
            [(1, [3.0, 4.0])], "g long, embedding array<float>")
        v = similarity.mean_pool(df, "g", normalize=True).first()["pooled"]
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-6
        assert abs(v[0] - 0.6) < 1e-6 and abs(v[1] - 0.8) < 1e-6

    def test_lsh_bucket_determinism(self, emb):
        b1 = similarity.random_hyperplane_lsh(emb, dim=64, num_planes=8)
        b2 = similarity.random_hyperplane_lsh(emb, dim=64, num_planes=8)
        assert (b1.select("vec_id", "lsh_bucket").collect()
                == b2.select("vec_id", "lsh_bucket").collect())


class TestSingleMaterialization:
    """r16 batch 2: multi-consumer subtrees that had NO persist are
    now lazily persisted (semdedup's assignment pass, ccnet's scored
    frame via quantile_buckets(persist_input=True)) — without one the
    subtree is planted once per consumer and computed that many times
    (measured: two ~5 task-s assignment jobs per warm embed_semdedup
    run). A LAZY persist computes it exactly once (accumulator-proven
    in OPTIMIZATION_r16.md — the eager-populate variant was tried and
    reverted as pure overhead)."""

    def test_term_weights_reads_cache_and_values_stable(self, spark):
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators import text

        df = spark.createDataFrame(
            [(i, f"tok{i % 5} tok{i % 3} shared") for i in range(60)],
            "doc_id long, text string")
        out = text.term_weights(df, "doc_id", "text", min_df=2)
        # every consumer subtree reads the materialized (doc, term, tf)
        # cache, never the tokenize+explode pipeline
        assert "InMemoryTableScan" in plans.plan_text(out, "simple")
        rows = {(r.doc_id, r.term): (r.tf, round(r.weight, 9))
                for r in out.collect()}
        # hand-check one cell: doc 0 has terms tok0, tok0, shared ->
        # tf(tok0)=2; every doc carries "shared" (df=60)
        assert rows[(0, "tok0")][0] == 2
        assert all((d, "shared") in rows for d in range(60))
        spark.catalog.clearCache()

    def test_term_weights_unknown_scheme_raises_before_persist(self, spark):
        from spark_expectations_spark.operators import text

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        base = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        with pytest.raises(ValueError, match="unknown scheme"):
            text.term_weights(df, "doc_id", "text", scheme="nope")
        # validation fires before the plan is built — the late branch
        # raise left a marked-but-never-computed persist behind
        assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() \
            == base

    def test_quantile_buckets_persist_input_parity(self, spark):
        from spark_expectations_spark.operators import sampling

        rng = random.Random(5)
        df = spark.createDataFrame(
            [(i, "ab"[i % 2], rng.randint(-100, 100)) for i in range(300)],
            "id long, g string, score long")
        plain = sampling.quantile_buckets(df, "g", "score")
        cached = sampling.quantile_buckets(df, "g", "score",
                                           persist_input=True)
        assert sorted(map(tuple, plain.collect())) == \
            sorted(map(tuple, cached.collect()))
        spark.catalog.clearCache()

    def test_semdedup_reads_assignment_cache(self, spark):
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators import similarity

        rng = random.Random(9)
        rows = [(i, i % 4, [rng.uniform(-1, 1) for _ in range(8)])
                for i in range(120)]
        # plant exact duplicates so the removal side is non-empty
        rows += [(1000 + i, i % 4, rows[i][2]) for i in range(10)]
        df = spark.createDataFrame(
            rows, "vec_id long, label long, embedding array<double>")
        cents = similarity.train_centroids_df(
            df, vec_col="embedding", by_col="label")
        kept = similarity.semdedup(
            df, id_col="vec_id", vec_col="embedding",
            threshold=0.999999, centroids=cents)
        txt = plans.plan_text(kept, "simple")
        # both consumers (pair search + anti-join keep side) read the
        # single materialized assignment pass
        assert "InMemoryTableScan" in txt
        kept_ids = {r.vec_id for r in kept.collect()}
        # exact duplicates: the higher id of each planted pair is gone
        assert all(1000 + i not in kept_ids for i in range(10))
        assert all(i in kept_ids for i in range(10))
        spark.catalog.clearCache()


class TestTransformedMoments:
    def test_bit_identical_to_unfused_chain(self, spark):
        import numpy as np

        rng = random.Random(11)
        dim = 6
        rows = [(i, [rng.uniform(-2, 2) for _ in range(dim)])
                for i in range(300)] + [(999, None)]
        df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
        _, mu, cov = similarity._corpus_moments(df, "emb")
        lam, u = np.linalg.eigh(cov)
        w = (u * (1.0 / np.sqrt(np.maximum(lam, 0.0) + 1e-6))) @ u.T
        # unfused pre-r16 chain
        whitened = similarity._apply_whitening(df, mu, w, "emb", "__w")
        n_old, mean_old, cov_old = similarity._corpus_moments(whitened, "__w")
        # fused r16 pass
        n_new, mean_new, cov_new = similarity._transformed_moments(
            df, "emb", mu, w)
        assert n_new == n_old == 300
        assert np.array_equal(mean_new, mean_old)
        assert np.array_equal(cov_new, cov_old)

    def test_ragged_vectors_fail_loudly(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
            "vec_id long, emb array<double>")
        import numpy as np
        with pytest.raises(Exception, match="ragged"):
            similarity._transformed_moments(
                df, "emb", np.zeros(2), np.eye(2))


class TestText:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([("hello world  foo",), ("",)], "t string")
        rows = df.select(text.token_count(F.col("t")).alias("n")).collect()
        assert [r["n"] for r in rows] == [3, 0]

    def test_quality_monotonic(self, spark):
        good = "the quick brown fox jumps over the lazy dog again and again"
        bad = "!!! ??? ### $$$"
        df = spark.createDataFrame([(good,), (bad,)], "t string")
        rows = df.select(text.quality_score(F.col("t")).alias("q")).collect()
        assert rows[0]["q"] > rows[1]["q"]

    def test_langid_markers(self, spark):
        df = spark.createDataFrame(
            [("the cat and the dog",), ("el perro y la casa que",),
             ("xyzzy plugh",)], "t string")
        rows = df.select(text.language_id(F.col("t")).alias("l")).collect()
        assert [r["l"] for r in rows] == ["en", "es", "und"]

    def test_tfidf_rare_term_wins(self, spark):
        """A term unique to one doc must outrank corpus-wide terms."""
        df = spark.createDataFrame(
            [(1, "common zebra"), (2, "common filler"),
             (3, "common filler")],
            "doc_id long, text string")
        top = text.top_terms(df, "doc_id", "text", top_k=1, min_df=1)
        got = {r["doc_id"]: r["term"] for r in top.collect()}
        assert got[1] == "zebra"

    def test_bm25_doc_length_includes_cut_terms(self, spark):
        """min_df cuts terms from the OUTPUT but not from the BM25 length
        normalization: a doc padded with hapax terms must score its
        common term lower than an unpadded doc's same term."""
        df = spark.createDataFrame(
            [(1, "shared " + " ".join(f"pad{i}" for i in range(20))),
             (2, "shared"),
             (3, "shared")],
            "doc_id long, text string")
        w = text.term_weights(df, "doc_id", "text", scheme="bm25", min_df=2)
        by_doc = {r["doc_id"]: r["weight"] for r in w.collect()
                  if r["term"] == "shared"}
        assert by_doc[1] < by_doc[2]

    def test_term_weights_unknown_scheme(self, spark):
        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="scheme"):
            text.term_weights(df, "doc_id", "text", scheme="nope")

    def test_chunk_documents_cover_and_overlap(self, spark):
        df = spark.createDataFrame([(1, "x" * 1000), (2, "short"), (3, "")],
                                   "doc_id long, text string")
        out = text.chunk_documents(df, "doc_id", "text",
                                   chunk_chars=256, overlap=32)
        rows = sorted((r["doc_id"], r["chunk_idx"], r["start"],
                       len(r["chunk_text"])) for r in out.collect())
        by_doc = {}
        for d, i, s, ln in rows:
            by_doc.setdefault(d, []).append((i, s, ln))
        # doc 1: stride 224, ceil((1000-32)/224)=5 chunks; last partial
        assert [s for _, s, _ in by_doc[1]] == [0, 224, 448, 672, 896]
        assert by_doc[1][-1][2] == 1000 - 896
        # consecutive chunks overlap by 32: next start == prev start+224
        # coverage: last chunk reaches end of doc
        assert by_doc[2] == [(0, 0, 5)]   # short doc -> one chunk
        assert 3 not in by_doc            # empty doc emits nothing

    def test_chunk_documents_rejects_bad_overlap(self, spark):
        df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        with pytest.raises(ValueError, match="overlap"):
            text.chunk_documents(df, "doc_id", "text",
                                 chunk_chars=10, overlap=10)

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [("Hello,   World!",), ("hello world",)], "t string")
        rows = df.select(text.fingerprint(F.col("t")).alias("f")).collect()
        assert rows[0]["f"] == rows[1]["f"]

    def test_repetition_stats(self, spark):
        df = spark.createDataFrame(
            [(1, "a a a b"), (2, "w x y z"), (3, "")], "id long, t string")
        rows = {r["id"]: r for r in
                text.repetition_stats(df, "id", "t").collect()}
        # doc 1: 4 tokens, 2 distinct → dup 0.5; top word 'a' 3/4
        assert rows[1]["dup_word_frac"] == 0.5
        assert rows[1]["top_word_share"] == 0.75
        assert rows[2]["dup_word_frac"] == 0.0
        assert 3 not in rows  # zero-token docs drop (unnest semantics)

    def test_dup_word_frac_column(self, spark):
        df = spark.createDataFrame([("a a b",), ("",)], "t string")
        rows = df.select(text.dup_word_frac(F.col("t")).alias("d")).collect()
        assert abs(rows[0]["d"] - 1 / 3) < 1e-9
        assert rows[1]["d"] == 0.0

    def test_redact_pii(self, spark):
        df = spark.createDataFrame(
            [("mail bob.smith+x@corp.example.org or call +1-555-010-9999 ok",),
             ("no pii here",)], "t string")
        out = df.select(text.redact_pii(F.col("t")).alias("r"),
                        text.pii_count(F.col("t")).alias("n")).collect()
        assert out[0]["r"] == "mail [PII] or call [PII] ok"
        assert out[0]["n"] == 2
        assert out[1]["r"] == "no pii here" and out[1]["n"] == 0

    def test_redact_pii_ip_and_card_shapes(self, spark):
        df = spark.createDataFrame(
            [("server 10.0.255.7 charged 4111 1111 1111 1111 today",),
             ("versions 1.2.3 and 12.5 stay",)], "t string")
        out = df.select(text.redact_pii(F.col("t")).alias("r"),
                        text.pii_count(F.col("t")).alias("n")).collect()
        assert out[0]["r"] == "server [PII] charged [PII] today"
        # card pattern ordered before phone: ONE span, not fragments
        assert out[0]["n"] >= 2 and "[PII] [PII] [PII]" not in out[0]["r"]
        # short dotted versions are not IPs (need 4 octets)
        assert out[1]["r"] == "versions 1.2.3 and 12.5 stay"

    def test_profile_columns(self, docs):
        out = text.profile(docs.limit(10), "text")
        expected = {"n_tokens", "n_bpe_tokens", "quality_score", "lang_detected",
                    "fingerprint", "punct_ratio", "stopword_ratio"}
        assert expected <= set(out.columns)
        assert out.count() == 10


class TestWordShingles3ArraysZip:
    """r16: queries._word_shingles3 moved from a double-zip_with walk
    (two interpreted HOF passes per row) to arrays_zip + ONE transform
    — the dedup.shingles_col shape, measured 2.3x faster per corpus
    pass. The equivalence reference is the old expression verbatim."""

    @staticmethod
    def _old(warr):
        m = F.greatest(F.size(warr) - 2, F.lit(1))
        s1, s2, s3 = (F.slice(warr, i, m) for i in (1, 2, 3))
        return F.zip_with(
            F.zip_with(s1, s2, lambda a, b: F.concat_ws(" ", a, b)),
            s3, lambda ab, c: F.concat_ws(" ", ab, c))

    def test_exact_array_equality_incl_edges(self, spark):
        from spark_expectations_spark.queries import _word_shingles3
        rows = [(0, None), (1, ""), (2, "a"), (3, "a b"), (4, "a b c"),
                (5, "a b c d"), (6, "a a a a"), (7, "  x   y  z  "),
                (8, "one two three four five six seven eight")]
        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(40)]
        rows += [(100 + i, " ".join(rng.choices(vocab,
                                                k=rng.randint(0, 30))))
                 for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        both = df.select(
            "doc_id",
            self._old(words).alias("o"), _word_shingles3(words).alias("n"))
        # exact per-row array equality, compared driver-side: a
        # DataFrame-level ~eqNullSafe filter would be PUSHED below the
        # fixture's own size guard and evaluate the guarded slice on
        # short rows (a test artifact, not a query shape)
        for r in both.collect():
            assert r["o"] == r["n"], r
        # and on the sliced twin-words form the linkage queries use
        tw = F.slice(words, 1, F.size(words) - 5)
        both_tw = (df.filter(F.size(words) >= 8)
                   .select("doc_id", self._old(tw).alias("o"),
                           _word_shingles3(tw).alias("n")))
        n_tw = 0
        for r in both_tw.collect():
            assert r["o"] == r["n"], r
            n_tw += 1
        assert n_tw > 50  # the twin branch actually exercised


class TestWordNgramKernel:
    """dedup._word_ngrams, the one word-n-gram kernel, against a
    pure-Python reference under each caller's tokenization and
    short-text rule, on texts built to break a token-boundary regex:
    leading/trailing tabs and newlines, whitespace runs, a lone space,
    fewer than n tokens, "" and NULL."""

    TEXTS = [None, "", " ", "\t", "\n", "  ", "a", "A b", "\ta b",
             "a b\n", "\n\na  b\t\tc \r\n", " x   y  z ", "a b c d e f g",
             "\x0bq\fr s\t", "a a a a a a", "One\ttwo\nthree four"]

    @classmethod
    def _texts(cls):
        rng = random.Random(17)
        parts = ["a", "Bb", "c", " ", "  ", "\t", "\n", "\r", "\x0b"]
        return cls.TEXTS + ["".join(rng.choices(parts, k=rng.randint(0, 14)))
                            for _ in range(150)]

    @staticmethod
    def _split(s):
        # Spark's split(str, '\\s+') is Java's String.split(regex, -1):
        # empty leading/trailing tokens kept; Java's \s is ASCII only
        import re
        return re.split(r"[ \t\n\x0b\f\r]+", s)

    @staticmethod
    def _grams(toks, n):
        return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    @classmethod
    def _frame(cls, spark):
        return spark.createDataFrame(list(enumerate(cls._texts())),
                                     "id long, t string")

    @classmethod
    def _collect(cls, spark, build):
        return [(r["t"], r["g"]) for r in cls._frame(spark).select(
            "t", build(F.col("t")).alias("g")).collect()]

    @staticmethod
    def _distinct(xs):
        return list(dict.fromkeys(xs))

    @pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
    def test_shingles_col(self, spark, n):
        def ref(t):
            if t is None:
                return None
            toks = self._split(t.strip(" ").lower())
            if n <= 1:
                return self._distinct(toks)
            if len(toks) < n:
                return [" ".join(toks)]
            return self._distinct(self._grams(toks, n))
        for t, got in self._collect(
                spark, lambda c: dedup.shingles_col(c, n)):
            assert got == ref(t), (t, n)

    @pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
    def test_coverage_tokens_positions(self, spark, n):
        """dup_span_coverage's grams: tokens_col, no short-text gram,
        and posexplode positions are token indices."""
        got = {}
        for r in self._frame(spark).select("id", F.posexplode(dedup._word_ngrams(
                dedup.tokens_col(F.col("t")), n))).collect():
            got.setdefault(r["id"], []).append((r["pos"], r["col"]))
        want = {}
        for i, t in enumerate(self._texts()):
            if t is not None:
                g = self._grams(self._split(t.strip(" ").lower()), n)
                if g:
                    want[i] = list(enumerate(g))
        assert got == want

    @pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
    def test_span_operator_grams(self, spark, n):
        """_word_grams: case-sensitive raw split, no short-text gram;
        a NULL text has no gram."""
        def ref(t):
            if t is None:
                return None, []
            toks = self._split(t.strip(" "))
            return toks, self._grams(toks, n)
        toks, grams = dedup._word_grams("t", n)
        for r in self._frame(spark).select(
                "t", toks.alias("k"), grams.alias("g")).collect():
            assert (r["k"], r["g"]) == ref(r["t"]), (r["t"], n)

    def test_catalog_word_shingles3(self, spark):
        from spark_expectations_spark.queries import _word_shingles3

        def ref(t):
            if t is None:
                return None
            ws = self._split(t.strip(" ").lower())
            return ([" ".join(ws)] if 1 <= len(ws) <= 2
                    else self._grams(ws, 3))
        for t, got in self._collect(spark, lambda c: _word_shingles3(
                F.split(F.lower(F.trim(c)), r"\s+"))):
            assert got == ref(t), t
        empty = spark.createDataFrame([([],)], "w array<string>")
        assert empty.select(_word_shingles3(F.col("w"))).first()[0] == []

    @pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
    def test_ngram_overlap_words(self, spark, n):
        """ngram_overlap's tokens: NULL as "", empty tokens dropped,
        fewer than n tokens give no n-gram."""
        def ref(t):
            toks = [w for w in self._split((t or "").strip(" ").lower())
                    if w != ""]
            return self._grams(toks, n)
        for t, got in self._collect(spark, lambda c: text._word_ngrams(
                F.filter(F.split(F.trim(F.lower(F.coalesce(c, F.lit("")))),
                                 r"\s+"), lambda w: w != ""), n)):
            assert got == ref(t), (t, n)

    def test_kernel_null_and_n_below_one(self, spark):
        df = spark.createDataFrame([(None,), ([],)], "w array<string>")
        for n in (1, 3):
            got = df.select(dedup._word_ngrams(F.col("w"), n)).collect()
            assert [r[0] for r in got] == [[], []], n
        with pytest.raises(ValueError, match="n must be"):
            dedup._word_ngrams(F.col("w"), 0)

    def test_null_text_has_no_shingle(self, spark):
        """A NULL text has no shingle, so NULL-text rows pair with
        nothing; "" keeps its one empty shingle."""
        df = spark.createDataFrame(
            [(1, None), (2, None), (3, ""),
             (4, "the quick brown fox jumps"),
             (5, "the quick brown fox jumps")], "doc_id long, text string")
        sh = {r["doc_id"]: r["s"] for r in df.select(
            "doc_id", dedup.shingles_col(F.col("text")).alias("s")).collect()}
        assert sh[1] is None and sh[2] is None and sh[3] == [""]
        jac = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.5)
        assert [(r["id_a"], r["id_b"]) for r in jac.collect()] == [(4, 5)]
        mh = dedup.minhash_dedup_pairs(df, "doc_id", "text", threshold=0.5)
        assert [(r["id_a"], r["id_b"]) for r in mh.collect()] == [(4, 5)]


class TestHeavyHitters:
    def test_exact_and_prunes(self, spark):
        from spark_expectations_spark.operators import sketches
        rows = [("hot",)] * 60 + [("warm",)] * 30 + [("c1",), ("c2",)] * 5
        df = spark.createDataFrame(rows, "v string")
        out = {r["v"]: (r["cnt"], r["share_ppm"])
               for r in sketches.heavy_hitters(df, "v", min_share=0.2).collect()}
        assert out == {"hot": (60, 600000), "warm": (30, 300000)}

    def test_no_hitters_empty_result(self, spark):
        from spark_expectations_spark.operators import sketches
        df = spark.createDataFrame([(str(i),) for i in range(50)], "v string")
        assert sketches.heavy_hitters(df, "v", min_share=0.5).count() == 0

    def test_empty_result_schema_matches_nonstring_column(self, spark):
        """The empty-candidate frame must carry the INPUT column's type
        (here long), so it unions with the non-empty path."""
        from spark_expectations_spark.operators import sketches
        df = spark.createDataFrame([(i,) for i in range(50)], "v long")
        empty = sketches.heavy_hitters(df, "v", min_share=0.5)
        nonempty = sketches.heavy_hitters(
            spark.createDataFrame([(7,)] * 10, "v long"), "v", min_share=0.2)
        assert [f.dataType for f in empty.schema.fields] == \
               [f.dataType for f in nonempty.schema.fields]
        assert empty.unionByName(nonempty).count() == 1


class TestMixtureResample:
    def test_quota_math_and_determinism(self, spark):
        from spark_expectations_spark.operators import sampling
        rows = [(i, "a") for i in range(40)] + \
               [(i, "b") for i in range(100, 120)] + \
               [(i, "c") for i in range(200, 260)]  # a=40 b=20 c=60
        df = spark.createDataFrame(rows, "doc_id long, source string")
        # target 50/25/25: binding source is b (20/0.25=80)
        # quotas: a floor(20*50/25)=40, b 20, c 20
        out = sampling.mixture_resample(
            df, "doc_id", "source",
            {"a": 500000, "b": 250000, "c": 250000})
        by_src = {r.source: r.n for r in
                  out.groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert by_src == {"a": 40, "b": 20, "c": 20}
        # determinism: repartitioned input keeps the identical set
        ids1 = sorted(r.doc_id for r in out.collect())
        out2 = sampling.mixture_resample(
            df.repartition(7), "doc_id", "source",
            {"a": 500000, "b": 250000, "c": 250000})
        assert sorted(r.doc_id for r in out2.collect()) == ids1

    def test_nested_under_weight_increase(self, spark):
        """Raising one source's weight only ever ADDS rows from it
        (hash-rank selection is prefix-nested)."""
        from spark_expectations_spark.operators import sampling
        rows = [(i, "a") for i in range(50)] + \
               [(i, "b") for i in range(100, 150)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        lo = sampling.mixture_resample(df, "doc_id", "source",
                                       {"a": 500000, "b": 500000})
        hi = sampling.mixture_resample(df, "doc_id", "source",
                                       {"a": 750000, "b": 250000})
        lo_a = {r.doc_id for r in lo.filter("source = 'a'").collect()}
        hi_a = {r.doc_id for r in hi.filter("source = 'a'").collect()}
        assert lo_a <= hi_a or hi_a <= lo_a

    def test_unweighted_sources_dropped_and_validation(self, spark):
        import pytest

        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [(1, "a"), (2, "zzz")], "doc_id long, source string")
        out = sampling.mixture_resample(df, "doc_id", "source", {"a": 1000000})
        assert [r.source for r in out.collect()] == ["a"]
        with pytest.raises(ValueError):
            sampling.mixture_resample(df, "doc_id", "source", {})
        with pytest.raises(ValueError):
            sampling.mixture_resample(df, "doc_id", "source", {"a": 0})


class TestTwoPhaseQuotaSelection:
    """Round-5 scale fix: mixture_resample / token_budget_sample pick
    their kept sets via two-phase bucket counting instead of a
    per-source single-task window. Parity with the straightforward
    window reference must be exact (the boundary-bucket window
    reproduces the old ordering inside the only bucket that matters)."""

    @staticmethod
    def _reference_mixture(df, key_col, source_col, weights):
        """The pre-round-5 single-window implementation, as the parity
        oracle (plus driver-side exact quota math)."""
        import math
        from pyspark.sql import Window
        from spark_expectations_spark.operators.sampling import _bucket
        counts = {r["s"]: r["n"] for r in
                  df.groupBy(F.col(source_col).alias("s"))
                    .agg(F.count(F.lit(1)).alias("n")).collect()}
        present = {s: w for s, w in weights.items() if s in counts}
        n_b, w_b = min(((counts[s], w) for s, w in present.items()),
                       key=lambda t: (t[0] / t[1],))
        quotas = {s: math.floor(n_b * w / w_b) for s, w in present.items()}
        spark = df.sparkSession
        qdf = spark.createDataFrame(
            [(s, q) for s, q in quotas.items()],
            f"{source_col} string, __quota long")
        w = Window.partitionBy(source_col).orderBy(
            _bucket(F.col(key_col)).asc(), F.col(key_col).asc())
        return (df.join(F.broadcast(qdf), source_col)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= F.col("__quota"))
                .drop("__rn", "__quota"))

    def test_mixture_parity_with_reference_window(self, spark):
        import random
        from spark_expectations_spark.operators import sampling
        rng = random.Random(5)
        rows = [(rng.randrange(10 ** 9), s)
                for s, n in (("web", 700), ("books", 60), ("code", 241))
                for _ in range(n)]
        # a NULL key per source: the reference window ranks them FIRST
        # (ASC NULLS FIRST) — the sentinel bucket must reproduce that
        rows += [(None, "web"), (None, "books")]
        df = spark.createDataFrame(
            list(set(rows)), "doc_id long, source string")
        weights = {"web": 500000, "books": 300000, "code": 200000}

        def key(r):
            return (r["source"], r["doc_id"] is not None, r["doc_id"] or 0)

        got = sorted(sampling.mixture_resample(
            df, "doc_id", "source", weights).collect(), key=key)
        want = sorted(self._reference_mixture(
            df, "doc_id", "source", weights).collect(), key=key)
        assert [key(r) for r in got] == [key(r) for r in want]
        assert len(got) > 0
        # the NULL-key rows themselves survived (they rank first)
        assert any(r["doc_id"] is None for r in got)

    def test_mixture_skew_no_corpus_window(self, spark):
        """Plan pin: the only row_number window runs on the boundary
        bucket (filter `__b = __tb` feeds it); whole kept buckets go
        through a windowless `__b < __tb` join branch. A 99%-skewed
        source therefore never sorts in one task."""
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators import sampling
        rows = [(i, "hot") for i in range(5000)] + \
               [(i, "cold") for i in range(10 ** 6, 10 ** 6 + 50)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = sampling.mixture_resample(
            df, "doc_id", "source", {"hot": 990000, "cold": 10000})
        txt = plans.plan_text(out, "simple")
        assert txt.count("row_number") == 1
        # boundary branch: the `__b = __tb` restriction feeds the window
        # (Catalyst turns it into an equi-join key on __tb)
        assert "= __tb" in txt or "[__tb" in txt
        assert "< __tb" in txt      # bulk branch: plain join filter
        # and the kept set is still the reference one
        want = {(r["source"], r["doc_id"]) for r in self._reference_mixture(
            df, "doc_id", "source",
            {"hot": 990000, "cold": 10000}).collect()}
        assert {(r["source"], r["doc_id"]) for r in out.collect()} == want

    def test_mixture_weight_overflow_guard(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [(1, "a"), (2, "b")], "doc_id long, source string")
        # gcd-reducible huge weights are fine ...
        out = sampling.mixture_resample(
            df, "doc_id", "source", {"a": 10 ** 12, "b": 2 * 10 ** 12})
        assert out.count() > 0
        # ... coprime ones past the int64-exactness bound raise
        with pytest.raises(ValueError, match="weight ratios"):
            sampling.mixture_resample(
                df, "doc_id", "source",
                {"a": 2 ** 33 + 1, "b": 2 ** 33 - 1})

    def test_token_budget_parity_with_reference_window(self, spark):
        import random
        from pyspark.sql import Window
        from spark_expectations_spark.operators import sampling
        from spark_expectations_spark.operators.sampling import _bucket
        rng = random.Random(7)
        rows = list({(rng.randrange(10 ** 9),
                      rng.choice(["a", "b", "c"]),
                      rng.choice([0, 1, 5, 40, 200]))
                     for _ in range(900)})
        rows += [(None, "a", 3), (None, "b", 7)]  # NULLS FIRST parity
        df = spark.createDataFrame(rows, "id long, g string, tok int")
        def key(r):
            return (r["g"], r["id"] is not None, r["id"] or 0)

        for budget in (1, 137, 1000):
            got = sorted(sampling.token_budget_sample(
                df, "g", "id", "tok", budget=budget).collect(), key=key)
            w = (Window.partitionBy("g")
                 .orderBy(_bucket(F.col("id")).asc(), F.col("id").asc())
                 .rowsBetween(Window.unboundedPreceding, -1))
            ref = (df.withColumn(
                "__cum",
                F.coalesce(F.sum(F.col("tok").cast("long")).over(w),
                           F.lit(0)))
                .filter(F.col("__cum") < budget))
            want = sorted(ref.collect(), key=key)
            assert [key(r) for r in got] == [key(r) for r in want], \
                f"budget={budget}"

    def test_token_budget_exact_boundary_and_zero_weights(self, spark):
        """Budget landing exactly on a bucket-prefix edge, with
        zero-weight rows straddling it — the strictness edge case the
        bucketed evaluation must delegate to the boundary window."""
        from pyspark.sql import Window
        from spark_expectations_spark.operators import sampling
        from spark_expectations_spark.operators.sampling import _bucket
        rows = [("g", i, wgt) for i, wgt in
                [(1, 0), (2, 10), (3, 0), (4, 10), (5, 0), (6, 10),
                 (7, 0), (8, 10)]]
        df = spark.createDataFrame(rows, "g string, id int, tok int")
        for budget in (10, 20, 30, 40):
            got = sorted(r["id"] for r in sampling.token_budget_sample(
                df, "g", "id", "tok", budget=budget).collect())
            w = (Window.partitionBy("g")
                 .orderBy(_bucket(F.col("id")).asc(), F.col("id").asc())
                 .rowsBetween(Window.unboundedPreceding, -1))
            ref = (df.withColumn(
                "__cum",
                F.coalesce(F.sum(F.col("tok").cast("long")).over(w),
                           F.lit(0)))
                .filter(F.col("__cum") < budget))
            assert got == sorted(r["id"] for r in ref.collect()), \
                f"budget={budget}"


    def test_token_budget_null_group_kept_under_scalar_budget(self, spark):
        """ADVICE r5 (medium): the phase-2 plan join was a plain inner
        equi-join, so NULL-group rows never matched their plan row and
        were silently dropped under the scalar budget — a regression vs
        the window implementation where NULL group was its own
        partition. The join is now null-safe."""
        from pyspark.sql import Window
        from spark_expectations_spark.operators import sampling
        from spark_expectations_spark.operators.sampling import _bucket
        rows = [("a", 1, 5), ("a", 2, 5), (None, 3, 5), (None, 4, 5),
                (None, 5, 5)]
        df = spark.createDataFrame(rows, "g string, id int, tok int")
        skey = (lambda t: (t[0] is not None, t[0] or "", t[1]))
        got = sorted(((r["g"], r["id"]) for r in sampling.token_budget_sample(
            df, "g", "id", "tok", budget=10).collect()), key=skey)
        w = (Window.partitionBy("g")
             .orderBy(_bucket(F.col("id")).asc(), F.col("id").asc())
             .rowsBetween(Window.unboundedPreceding, -1))
        ref = (df.withColumn(
            "__cum", F.coalesce(F.sum(F.col("tok").cast("long")).over(w),
                                F.lit(0)))
            .filter(F.col("__cum") < 10))
        want = sorted(((r["g"], r["id"]) for r in ref.collect()), key=skey)
        assert got == want
        assert any(g is None for g, _ in got)  # NULL group survived

    def test_quota_samplers_single_input_evaluation(self, spark):
        """r5 verdict minor: the samplers evaluated their input 3x
        (phase-1 job + both kept branches). With persist_input
        (default) the bucketed frame is cached, so the returned plan
        reads InMemoryTableScan, phase 1 having materialized it; the
        cache is released when the result is garbage-collected.

        The persistent-RDD count is SESSION-GLOBAL and releases ride
        the asynchronous ContextCleaner, so earlier tests' pending
        unpersists can land mid-test under host load (one r16 full-run
        flake): every count assertion polls to its expected value with
        a deadline instead of reading one racy snapshot."""
        import gc
        import time as _time
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators import sampling

        def n_cached():
            return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

        def settle(expected, deadline=10.0):
            t0 = _time.time()
            while n_cached() != expected and _time.time() - t0 < deadline:
                gc.collect()
                _time.sleep(0.2)
            return n_cached()

        def drain():  # wait until pending async releases stop landing
            gc.collect()
            prev, t0 = n_cached(), _time.time()
            while _time.time() - t0 < 10.0:
                _time.sleep(0.5)
                cur = n_cached()
                if cur == prev:
                    return cur
                prev = cur
            return prev

        df = spark.createDataFrame(
            [(i, "ab"[i % 2], 1 + i % 7) for i in range(400)],
            "id long, g string, tok int")
        base = drain()  # let earlier tests' pending releases land first
        out = sampling.token_budget_sample(df, "g", "id", "tok", budget=50)
        assert settle(base + 1) == base + 1
        txt = plans.plan_text(out, "simple")
        assert "InMemoryTableScan" in txt
        # plain / persisted variants agree
        plain = sampling.token_budget_sample(
            df, "g", "id", "tok", budget=50, persist_input=False)
        assert sorted(map(tuple, out.collect())) == \
            sorted(map(tuple, plain.collect()))
        del out, txt
        gc.collect()
        assert settle(base) == base  # released on GC

        out2 = sampling.mixture_resample(
            df, "id", "g", {"a": 600000, "b": 400000})
        assert settle(base + 1) == base + 1
        assert "InMemoryTableScan" in plans.plan_text(out2, "simple")
        plain2 = sampling.mixture_resample(
            df, "id", "g", {"a": 600000, "b": 400000}, persist_input=False)
        assert sorted(map(tuple, out2.collect())) == \
            sorted(map(tuple, plain2.collect()))
        del out2
        gc.collect()
        assert settle(base) == base

    def test_release_input_cache_is_explicit_and_idempotent(self, spark):
        """ADVICE r6: GC release is nondeterministic and a derived
        ``op(df).select(...)`` drops the pin before the action — the
        explicit handle releases the cache deterministically, is
        idempotent, and is a no-op on unpinned frames."""
        from spark_expectations_spark.operators import sampling

        def n_cached():
            return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

        df = spark.createDataFrame(
            [(i, "ab"[i % 2], 1 + i % 7) for i in range(100)],
            "id long, g string, tok int")
        base = n_cached()
        out = sampling.token_budget_sample(df, "g", "id", "tok", budget=50)
        assert n_cached() == base + 1
        # the pin rides the RETURNED frame, not derived ones
        derived = out.select("g", "id")
        assert getattr(derived, "_se_input_cache", None) is None
        assert sampling.release_input_cache(out) is True
        assert n_cached() == base
        assert sampling.release_input_cache(out) is False   # idempotent
        assert sampling.release_input_cache(df) is False    # unpinned
        # released cache only costs recomputation — results unchanged
        plain = sampling.token_budget_sample(
            df, "g", "id", "tok", budget=50, persist_input=False)
        assert sorted(map(tuple, derived.collect())) == \
            sorted((r["g"], r["id"]) for r in plain.collect())


class TestApproxPercentileTier:
    def test_percentile_gate_approx_on_doubles(self, spark):
        """exact=False routes to approx_percentile: threshold is a real
        data value, kept fraction lands near q, and the aggregation
        state is bounded (the reason the tier exists)."""
        import random
        from spark_expectations_spark.operators import sampling
        rng = random.Random(11)
        df = spark.createDataFrame(
            [("g", i, rng.random()) for i in range(2000)],
            "g string, id int, score double")
        out = sampling.percentile_gate(
            df, "g", "score", q=0.5, exact=False)
        n = out.count()
        assert abs(n - 1000) < 50  # within rank error of the median
        # the approx threshold is an actual score value -> the gate's
        # min kept score exists in the data
        min_kept = out.agg(F.min("score")).first()[0]
        assert df.filter(F.col("score") == min_kept).count() >= 1

    def test_quantile_buckets_approx_on_doubles(self, spark):
        import random
        from spark_expectations_spark.operators import sampling
        rng = random.Random(13)
        df = spark.createDataFrame(
            [("g", i, rng.random()) for i in range(2000)],
            "g string, id int, score double")
        out = sampling.quantile_buckets(
            df, "g", "score", qs=(0.25, 0.75), exact=False)
        shares = {r["bucket"]: r["n"] for r in
                  out.groupBy("bucket").agg(F.count("*").alias("n"))
                  .collect()}
        assert set(shares) == {"tail", "middle", "head"}
        assert abs(shares["tail"] - 500) < 60
        assert abs(shares["head"] - 500) < 60

    def test_exact_default_unchanged(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("g", i, i) for i in range(1, 101)],
            "g string, id int, score int")
        kept = sampling.percentile_gate(df, "g", "score", q=0.5)
        # exact interpolated median of 1..100 = 50.5 -> keeps 51..100
        assert sorted(r["id"] for r in kept.collect()) == list(range(51, 101))


class TestSamplePerGroup:
    def test_partition_invariant_and_capped(self, docs):
        from spark_expectations_spark.operators import sampling
        a = sampling.sample_per_group(docs, ["lang"], "doc_id", 5)
        b = sampling.sample_per_group(docs.repartition(13), ["lang"], "doc_id", 5)
        ka = sorted(r["doc_id"] for r in a.select("doc_id").collect())
        kb = sorted(r["doc_id"] for r in b.select("doc_id").collect())
        assert ka == kb
        per = {r["lang"]: r["n"] for r in
               a.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert all(n <= 5 for n in per.values())


class TestConformalThreshold:
    def test_ungrouped_exact_selection_and_guarantee_arithmetic(
            self, spark):
        """The ungrouped path selects the exact ⌈(n+1)(1−α)⌉-th order
        statistic via two-phase bracketing — no global sort — and
        matches the direct formula on a known ladder."""
        import math
        from spark_expectations_spark.operators import profiling
        df = spark.range(1, 1001).selectExpr("cast(id as double) as s")
        r = profiling.conformal_threshold(df, "s", alpha=0.1).first()
        assert (r["n"], r["k"]) == (1000, math.ceil(1001 * 0.9))
        assert r["threshold"] == float(r["k"])
        # order-statistic primitive: endpoints and a middle rank
        assert profiling.exact_order_statistic(df, "s", 1) == 1.0
        assert profiling.exact_order_statistic(df, "s", 1000) == 1000.0
        assert profiling.exact_order_statistic(df, "s", 500) == 500.0

    def test_grouped_ties_nulls_and_insufficient_rows(self, spark):
        """Per-group thresholds: ties resolve to a deterministic VALUE
        (any tie order lands on the same score), NULL scores are
        excluded, and a group too small for the requested coverage
        (n < 1/alpha − 1) gets a NULL threshold, not a false one."""
        import math
        from spark_expectations_spark.operators import profiling
        rows = ([("a", float(1 + i // 2)) for i in range(100)]
                + [("a", None), ("b", 5.0), ("b", 7.0)])
        df = spark.createDataFrame(rows, "g string, s double")
        out = {r["g"]: (r["n"], r["k"], r["threshold"]) for r in
               profiling.conformal_threshold(
                   df, "s", alpha=0.1, group_cols=("g",)).collect()}
        k = math.ceil(101 * 0.9)
        # scores are 1,1,2,2,...,50,50 -> rank-91 value is ceil(91/2)
        assert out["a"] == (100, k, float(math.ceil(k / 2)))
        assert out["b"] == (2, 3, None)

    def test_integer_score_column_ungrouped(self, spark):
        """bigint nonconformity scores must work on the ungrouped path
        — the collected order statistic is a Python int and the
        threshold column is declared double."""
        from spark_expectations_spark.operators import profiling
        df = spark.range(1, 101).selectExpr("id as s")  # bigint
        r = profiling.conformal_threshold(df, "s", alpha=0.1).first()
        assert (r["n"], r["k"], r["threshold"]) == (100, 91, 91.0)

    def test_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import profiling
        df = spark.range(3).selectExpr("cast(id as double) as s")
        with _pytest.raises(ValueError, match="alpha"):
            profiling.conformal_threshold(df, "s", alpha=0.0)
        with _pytest.raises(ValueError, match="k must"):
            profiling.exact_order_statistic(df, "s", 0)
        with _pytest.raises(ValueError, match="exceeds"):
            profiling.exact_order_statistic(df, "s", 99)

    def test_collect_cap_raises_with_guidance(self, spark):
        """A bracket that would pull more than max_collect_rows onto
        the driver raises BEFORE collecting (r14 verdict task 3) —
        accuracy=2 makes the bracket the whole corpus, so need=k."""
        from spark_expectations_spark.operators import profiling
        df = spark.range(1, 101).selectExpr("cast(id as double) as s")
        with pytest.raises(ValueError, match="max_collect_rows"):
            profiling.exact_order_statistic(
                df, "s", 50, accuracy=2, max_collect_rows=10)
        # the same rank under the default cap stays exact
        assert profiling.exact_order_statistic(
            df, "s", 50, accuracy=2) == 50.0

    def test_rank_filter_fallback_is_exact_and_scalar(self, spark):
        """The bracket-miss fallback is a rank-filter JOB returning one
        scalar (never a k-row driver collect); exact on ties and
        endpoints."""
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame(
            [(v,) for v in [3.0, 1.0, 2.0, 2.0, 5.0, 4.0]], "s double")
        sel = profiling._rank_filter_selection
        assert sel(df, F.col("s"), 1) == 1.0
        assert sel(df, F.col("s"), 3) == 2.0   # tie at rank 2-3
        assert sel(df, F.col("s"), 6) == 5.0


class TestKeySkewReport:
    def test_uniform_vs_hot_key(self, spark):
        """A uniform key reads as no-skew (ratio 1, entropy 1, salt 1);
        one hot key owning most of the corpus reads as skewed with a
        salt recommendation that caps the hot group at the target."""
        import math
        from spark_expectations_spark.operators import profiling
        uni = spark.range(0, 100).selectExpr("id % 10 as k")
        r = profiling.key_skew_report(uni, ["k"],
                                      target_rows_per_task=10).first()
        assert (r["n_rows"], r["n_keys"], r["max_key_rows"]) == \
            (100, 10, 10)
        assert r["skew_ratio"] == 1.0 and r["entropy_norm"] == 1.0
        assert r["recommended_salt"] == 1
        hot = spark.range(0, 100).selectExpr(
            "if(id < 91, 0, id) as k")  # one key holds 91 rows
        h = profiling.key_skew_report(hot, ["k"],
                                      target_rows_per_task=10).first()
        assert h["max_key_rows"] == 91 and h["n_keys"] == 10
        assert h["top_key_share"] == 0.91
        assert h["recommended_salt"] == 10  # ceil(91/10)
        ent = -(0.91 * math.log(0.91) + 9 * 0.01 * math.log(0.01))
        assert h["entropy_norm"] == pytest.approx(
            ent / math.log(10), abs=1e-9)

    def test_null_key_counts_and_single_key_entropy_null(self, spark):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame(
            [(None,), (None,), (1,)], "k int")
        r = profiling.key_skew_report(df, ["k"]).first()
        assert r["n_keys"] == 2 and r["max_key_rows"] == 2
        one = spark.range(0, 5).selectExpr("0 as k")
        s = profiling.key_skew_report(one, ["k"]).first()
        assert s["entropy_norm"] is None and s["skew_ratio"] == 1.0

    def test_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import profiling
        df = spark.range(1).selectExpr("id as k")
        with _pytest.raises(ValueError, match="key_cols"):
            profiling.key_skew_report(df, [])
        with _pytest.raises(ValueError, match="target_rows_per_task"):
            profiling.key_skew_report(df, ["k"], target_rows_per_task=0)


class TestWeightedTopkSample:
    def test_exact_k_partition_invariant_and_math(self, spark):
        """The kept set is exactly k per group, invariant to physical
        partitioning, and equals a driver-side replay of the A-ES rank
        key ln(u)/w."""
        import hashlib
        import math
        from spark_expectations_spark.operators import sampling
        rows = [(i, ["a", "b"][i % 2], float(1 + i % 7))
                for i in range(60)]
        df = spark.createDataFrame(rows, "id long, g string, w double")
        got = sampling.weighted_topk_sample(
            df, "id", "w", 5, group_cols=("g",))
        got2 = sampling.weighted_topk_sample(
            df.repartition(13), "id", "w", 5, group_cols=("g",))
        ka = sorted((r["g"], r["id"], r["sample_rank"])
                    for r in got.collect())
        assert ka == sorted((r["g"], r["id"], r["sample_rank"])
                            for r in got2.collect())

        def aes(i, w):
            u = int(hashlib.md5(f"aes{i}".encode()).hexdigest()[:12],
                    16) / float(16 ** 12)
            return math.log(u) / w

        expect = []
        for g in ("a", "b"):
            grp = sorted((r for r in rows if r[1] == g),
                         key=lambda r: (-aes(r[0], r[2]), r[0]))
            expect += [(g, r[0], rank + 1)
                       for rank, r in enumerate(grp[:5])]
        assert ka == sorted(expect)

    def test_ungrouped_uses_take_ordered_not_full_sort(self, spark):
        """Global top-k must plan as TakeOrderedAndProject (partial
        per-partition top-k), not a whole-corpus sort."""
        from spark_expectations_spark.operators import sampling
        df = spark.range(0, 1000).selectExpr(
            "id", "cast(1 + id % 9 as double) as w")
        out = sampling.weighted_topk_sample(df, "id", "w", 7)
        assert out.count() == 7
        ranks = sorted(r["sample_rank"] for r in out.collect())
        assert ranks == list(range(1, 8))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan

    def test_weight_proportionality_direction(self, spark):
        """Heavier rows win more often: with half the corpus at 10x
        weight, the heavy half dominates the sample."""
        from spark_expectations_spark.operators import sampling
        df = spark.range(0, 400).selectExpr(
            "id", "cast(if(id < 200, 10.0, 1.0) as double) as w")
        got = sampling.weighted_topk_sample(df, "id", "w", 50)
        heavy = sum(1 for r in got.collect() if r["id"] < 200)
        assert heavy >= 40  # E[heavy] ~ 47.6 at 10:1 odds

    def test_validation_and_nonpositive_weight(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([(1, 0.0)], "id long, w double")
        with _pytest.raises(ValueError, match="k must"):
            sampling.weighted_topk_sample(df, "id", "w", 0)
        with _pytest.raises(Exception, match="non-positive weight"):
            sampling.weighted_topk_sample(df, "id", "w", 1).collect()


class TestIncrementalDedup:
    def test_admits_only_unindexed_unique(self, spark):
        from spark_expectations_spark.operators import dedup as dd
        batch = spark.createDataFrame(
            [(10, "a"), (11, "a"), (12, "b"), (13, "c")],
            "doc_id long, fingerprint string")
        index = spark.createDataFrame([("c",)], "fingerprint string")
        out = sorted(r["doc_id"] for r in
                     dd.incremental_dedup(batch, index, "doc_id").collect())
        # "c" indexed -> 13 dropped; "a" duplicated -> min id 10 kept
        assert out == [10, 12]

    def test_empty_index_passthrough_dedup(self, spark):
        from spark_expectations_spark.operators import dedup as dd
        batch = spark.createDataFrame(
            [(2, "x"), (1, "x")], "doc_id long, fingerprint string")
        index = spark.createDataFrame([], "fingerprint string")
        out = dd.incremental_dedup(batch, index, "doc_id").collect()
        assert [(r["doc_id"], r["fingerprint"]) for r in out] == [(1, "x")]


class TestPerceptualHash:
    def test_known_gradient_bits(self, spark):
        """Injected pixel decoders make the dHash bit layout exact: a
        strictly increasing row yields all-ones bits, strictly
        decreasing all-zeros."""
        from spark_expectations_spark.operators import multimodal as mm
        df = spark.createDataFrame([(1, bytearray(b"x")),
                                    (2, bytearray(b"y"))],
                                   "id long, b binary")
        inc = lambda b: [[float(c) for c in range(9)]] * 8  # noqa: E731
        dec = lambda b: [[float(9 - c) for c in range(9)]] * 8  # noqa: E731
        hi = {r["id"]: r["phash"] for r in mm.perceptual_hash(
            df, id_col="id", binary_col="b", decode_fn=inc).collect()}
        lo = {r["id"]: r["phash"] for r in mm.perceptual_hash(
            df, id_col="id", binary_col="b", decode_fn=dec).collect()}
        assert hi[1] == -1                   # 64 ones, signed view
        assert lo[1] == 0
        assert hi[1] == hi[2] and lo[1] == lo[2]

    def test_identical_bytes_identical_hash_null_passthrough(self,
                                                             spark):
        from spark_expectations_spark.operators import multimodal as mm
        df = spark.createDataFrame(
            [(1, bytearray(b"same")), (2, bytearray(b"same")),
             (3, bytearray(b"other")), (4, None)],
            "id long, b binary")
        got = {r["id"]: r["phash"] for r in mm.perceptual_hash(
            df, id_col="id", binary_col="b").collect()}
        assert got[1] == got[2] != got[3]
        assert got[4] is None

    def test_near_dup_banding_finds_close_pairs_only(self, spark):
        """Planted hashes: 2 bits apart (candidate + verified), 20 bits
        apart (must be excluded even when a band collides), identical
        (hamming 0, found once despite appearing in every band)."""
        from spark_expectations_spark.operators import multimodal as mm
        base = 0x0123456789ABCDEF
        rows = [(1, base), (2, base ^ 0b11), (3, base ^ ((1 << 20) - 1)),
                (4, base)]
        df = spark.createDataFrame(rows, "id long, phash long")
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in mm.phash_near_dups(df, "id",
                                           max_hamming=4).collect()}
        assert got[(1, 2)] == 2 and got[(2, 4)] == 2
        assert got[(1, 4)] == 0
        assert all(a != 3 and b != 3 for a, b in got)
        # hamming64 column twin agrees
        from pyspark.sql import functions as F
        d = spark.createDataFrame([(base, base ^ 0b11)], "a long, b long")
        assert d.select(mm.hamming64(F.col("a"), F.col("b"))
                        .alias("h")).first()["h"] == 2
        # max_hamming=0: one 64-bit band (a (1<<64)-1 mask literal
        # would overflow a signed long) — exact-duplicate pairs only
        exact = {(r["id_a"], r["id_b"]) for r in mm.phash_near_dups(
            df, "id", max_hamming=0).collect()}
        assert exact == {(1, 4)}


class TestMultimodal:
    def test_feature_extraction_deterministic(self, docs):
        with_bin = multimodal.synthesize_binary_column(docs.limit(20), "text")
        f1 = multimodal.extract_features(with_bin, id_col="doc_id",
                                         binary_col="media_bytes", feature_dim=8)
        rows1 = {r["doc_id"]: r["features"] for r in f1.collect()}
        f2 = multimodal.extract_features(with_bin, id_col="doc_id",
                                         binary_col="media_bytes", feature_dim=8)
        rows2 = {r["doc_id"]: r["features"] for r in f2.collect()}
        assert rows1 == rows2
        assert all(len(v) == 8 for v in rows1.values())

    def test_real_codec_raises(self, docs):
        with_bin = multimodal.synthesize_binary_column(docs.limit(1), "text")
        with pytest.raises(NotImplementedError):
            multimodal.extract_features(with_bin, id_col="doc_id",
                                        binary_col="media_bytes", codec="jpeg")

    def test_image_codec_falls_back_without_pillow(self, docs):
        """codec='image' probes for Pillow; in this env (absent) it must
        run the deterministic fake — same schema/shape, no crash."""
        try:
            import PIL  # noqa: F401
            pytest.skip("Pillow present — covered by the env-gated test")
        except ImportError:
            pass
        with_bin = multimodal.synthesize_binary_column(docs.limit(5), "text")
        out = multimodal.extract_features(
            with_bin, id_col="doc_id", binary_col="media_bytes",
            feature_dim=8, codec="image")
        rows = {r["doc_id"]: r["features"] for r in out.collect()}
        assert len(rows) == 5 and all(len(v) == 8 for v in rows.values())

    def test_image_codec_real_decode_when_pillow_present(self, spark):
        """Env-gated (mirrors the Kafka-jar pattern): when Pillow IS
        importable, codec='image' decodes real PNG bytes — features
        reflect actual pixel values, not the md5 fake."""
        PIL = pytest.importorskip("PIL")  # noqa: F841
        import io

        from PIL import Image
        bufs = []
        for shade in (0, 128, 255):
            img = Image.new("L", (4, 4), color=shade)
            b = io.BytesIO()
            img.save(b, format="PNG")
            bufs.append(b.getvalue())
        df = spark.createDataFrame(
            [(i, buf) for i, buf in enumerate(bufs)],
            "doc_id long, media_bytes binary")
        out = multimodal.extract_features(
            df, id_col="doc_id", binary_col="media_bytes",
            feature_dim=4, codec="image")
        rows = {r["doc_id"]: r["features"] for r in out.collect()}
        # constant-shade images decode to constant features at the
        # normalized shade value — the fake would give md5 noise
        assert all(abs(v - (-1.0)) < 0.01 for v in rows[0])
        assert all(abs(v - 1.0) < 0.01 for v in rows[2])
        assert all(abs(v - (128 / 255 * 2 - 1)) < 0.02 for v in rows[1])

    def test_frame_sample_plan(self, spark):
        df = spark.createDataFrame([(1, 3500)], "vid long, duration_ms long")
        out = multimodal.frame_sample_plan(df, id_col="vid",
                                           duration_col="duration_ms")
        assert [r["frame_ts_ms"] for r in out.collect()] == [0, 1000, 2000, 3000]

    def test_audio_chunk_plan_overlap_tail_and_degenerates(self, spark):
        """Whisper-shape chunking: full windows at hop spacing, one
        clipped tail only when audio extends past the last full
        window's END (a window landing exactly on the clip end emits
        no redundant tail), short clips yield one self-spanning chunk,
        NULL/negative/zero durations nothing."""
        import pytest as _pytest
        rows = [(1, 90_000), (2, 30_000), (3, 12_000), (4, None),
                (5, -1), (6, 0)]
        df = spark.createDataFrame(rows, "vid long, dur long")
        out = multimodal.audio_chunk_plan(
            df, id_col="vid", duration_col="dur",
            window_ms=30_000, hop_ms=25_000)
        per = {}
        for r in out.collect():
            per.setdefault(r["vid"], []).append(
                (r["chunk_idx"], r["start_ms"], r["end_ms"]))
        assert sorted(per[1]) == [(0, 0, 30_000), (1, 25_000, 55_000),
                                  (2, 50_000, 80_000),
                                  (3, 75_000, 90_000)]
        assert per[2] == [(0, 0, 30_000)]      # exact fit: no tail
        assert per[3] == [(0, 0, 12_000)]      # sub-window clip
        assert set(per) == {1, 2, 3}
        no_tail = multimodal.audio_chunk_plan(
            df, id_col="vid", duration_col="dur",
            window_ms=30_000, hop_ms=25_000, keep_tail=False)
        assert no_tail.filter("vid = 3").count() == 0
        with _pytest.raises(ValueError, match="gaps"):
            multimodal.audio_chunk_plan(
                df, id_col="vid", duration_col="dur",
                window_ms=10, hop_ms=20)
        with _pytest.raises(ValueError, match="window_ms"):
            multimodal.audio_chunk_plan(
                df, id_col="vid", duration_col="dur", window_ms=0)

    def test_frame_sample_plan_budget_and_degenerates(self, spark):
        """max_frames caps per-video rows with a uniform integer
        stride (frame 0 always kept, at most max_frames rows); NULL
        and negative durations produce no rows."""
        import pytest as _pytest
        rows = [(1, 10_800_000), (2, 500), (3, None), (4, -5)]
        df = spark.createDataFrame(rows, "vid long, duration_ms long")
        out = multimodal.frame_sample_plan(
            df, id_col="vid", duration_col="duration_ms",
            every_ms=1000, max_frames=64)
        per = {}
        for r in out.collect():
            per.setdefault(r["vid"], []).append(
                (r["frame_idx"], r["frame_ts_ms"]))
        # 3-hour video: 10801 candidates, stride ceil(10801/64)=169
        assert len(per[1]) == -(-10801 // 169)
        assert per[1][0] == (0, 0)
        assert all(i % 169 == 0 and ts == i * 1000 for i, ts in per[1])
        assert len(per[1]) <= 64
        assert per[2] == [(0, 0)]          # sub-interval clip: frame 0
        assert 3 not in per and 4 not in per
        with _pytest.raises(ValueError, match="max_frames"):
            multimodal.frame_sample_plan(
                df, id_col="vid", duration_col="duration_ms",
                max_frames=0)
        with _pytest.raises(ValueError, match="every_ms"):
            multimodal.frame_sample_plan(
                df, id_col="vid", duration_col="duration_ms", every_ms=0)


class TestSkew:
    def test_salted_join_matches_plain_join(self, spark):
        from spark_expectations_spark.operators import skew
        # hot key: 90% of big rows share key 0
        big = spark.range(1000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS payload")
        small = spark.createDataFrame(
            [(0, "hot"), (19, "cold"), (999, "cold")], "k long, label string")
        plain = big.join(small, "k").selectExpr("k", "payload", "label")
        salted = skew.salted_join(big, small, "k", salt=4) \
                     .selectExpr("k", "payload", "label")
        assert sorted(plain.collect()) == sorted(salted.collect())

    def test_salted_left_join_keeps_unmatched(self, spark):
        from spark_expectations_spark.operators import skew
        big = spark.range(100).selectExpr("id % 5 AS k", "id AS payload")
        small = spark.createDataFrame([(0, "zero")], "k long, label string")
        out = skew.salted_join(big, small, "k", salt=4, how="left")
        assert out.count() == 100
        assert out.filter(F.col("label").isNull()).count() == 80

    def test_key_skew_stats_flags_hot_key(self, spark):
        from spark_expectations_spark.operators import skew
        df = spark.range(1000).selectExpr(
            "CASE WHEN id < 700 THEN NULL ELSE id END AS k")
        stats = skew.key_skew_stats(df, "k", top_k=3).collect()
        assert stats[0]["k"] is None and abs(stats[0]["share"] - 0.7) < 1e-6


class TestQuantileDiscretize:
    """Exact ntile binning: even and uneven splits, boundary-tie
    determinism, NULL drop, guards."""

    def test_even_split_edges(self, spark):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame([(float(i),) for i in range(1, 9)],
                                   "v double")
        out = {r["bin"]: r for r in profiling.quantile_discretize(
            df, "v", n_bins=4).collect()}
        assert {b: (r["n"], r["lo"], r["hi"]) for b, r in out.items()} \
            == {1: (2, 1.0, 2.0), 2: (2, 3.0, 4.0),
                3: (2, 5.0, 6.0), 4: (2, 7.0, 8.0)}
        assert out[1]["mean"] == pytest.approx(1.5)

    def test_uneven_and_ties_deterministic(self, spark):
        from spark_expectations_spark.operators import profiling
        # 5 rows, 2 bins -> sizes 3+2; the tie value 2.0 straddles the
        # boundary but the bin MULTISETS are determined
        df = spark.createDataFrame(
            [(1.0,), (2.0,), (2.0,), (2.0,), (9.0,)], "v double")
        out = {r["bin"]: (r["n"], r["lo"], r["hi"])
               for r in profiling.quantile_discretize(
                   df, "v", n_bins=2).collect()}
        assert out == {1: (3, 1.0, 2.0), 2: (2, 2.0, 9.0)}

    def test_groups_null_drop_and_guards(self, spark):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame(
            [("a", 1.0), ("a", None), ("a", 3.0), ("b", 5.0)],
            "g string, v double")
        out = {(r["g"], r["bin"]): r["n"]
               for r in profiling.quantile_discretize(
                   df, "v", n_bins=2, group_cols=("g",)).collect()}
        assert out == {("a", 1): 1, ("a", 2): 1, ("b", 1): 1}
        with pytest.raises(ValueError, match="n_bins"):
            profiling.quantile_discretize(df, "v", n_bins=0)
        with pytest.raises(ValueError, match="collide"):
            profiling.quantile_discretize(
                df.withColumnRenamed("g", "bin"), "v",
                group_cols=("bin",))


class TestBenfordReport:
    """Benford audit: a log-uniform fixture passes, uniform data
    fails, the magnitude drop rule, reserved-name guard."""

    def test_benford_consistent_sample_low_chi2(self, spark):
        from spark_expectations_spark.operators import profiling
        # ~log-uniform magnitudes follow Benford: build a deterministic
        # sample whose first-digit histogram matches log10(1+1/d)
        # closely by construction (counts proportional to the probs)
        rows = []
        for d, p in zip(range(1, 10), profiling.BENFORD_P):
            rows += [(float(d) * 10,)] * round(p * 1000)
        df = spark.createDataFrame(rows, "v double")
        r = profiling.benford_report(df, "v").first()
        assert r["n"] == len(rows)
        assert r["chi2"] < 1.0                 # near-perfect fit
        assert r["p_value"] > 0.99
        assert r["worst_abs_gap"] < 0.001

    def test_uniform_data_flagged(self, spark):
        from spark_expectations_spark.operators import profiling
        # uniform 100..999 -> every first digit ~equally likely: the
        # audit must reject hard (digit 1 under-represented vs 30.1%)
        df = spark.range(100, 1000).selectExpr("CAST(id AS DOUBLE) v")
        r = profiling.benford_report(df, "v").first()
        assert r["chi2"] > 100
        assert r["p_value"] == 0.0
        assert r["worst_digit"] == 1

    def test_magnitude_drop_rule_and_groups(self, spark):
        from spark_expectations_spark.operators import profiling
        rows = [("a", 0.5), ("a", None), ("a", 12.0), ("a", -3.0),
                ("b", 7.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = {r["g"]: r for r in profiling.benford_report(
            df, "v", group_cols=("g",)).collect()}
        assert out["a"]["n"] == 2              # 0.5 and NULL dropped
        assert out["b"]["n"] == 1

    def test_reserved_name_guard(self, spark):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame([(1.0, "x")], "v double, chi2 string")
        with pytest.raises(ValueError, match="group_cols"):
            profiling.benford_report(df, "v", group_cols=("chi2",))

    def test_huge_magnitudes_and_nonfinite(self, spark):
        """Digit extraction is exact past 2⁶³ (the old floor→long cast
        wrapped there, ADVICE r14) and NaN/±Inf rows are dropped. A
        single-row group's worst_digit IS its extracted digit (the
        |1−p_d| gap at the observed digit dominates every p_other)."""
        from spark_expectations_spark.operators import profiling
        rows = [("big9", 9.4e18),      # > 2^63 ≈ 9.223e18
                ("big1", 1.23e19), ("big2", 2.5e20),
                ("max", 1.7976931348623157e308),
                ("inf", float("inf")), ("nan", float("nan")),
                ("neg", -8.8e21), ("mid", 123456.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = {r["g"]: r for r in profiling.benford_report(
            df, "v", group_cols=("g",)).collect()}
        assert out["big9"]["worst_digit"] == 9
        assert out["big1"]["worst_digit"] == 1
        assert out["big2"]["worst_digit"] == 2
        assert out["max"]["worst_digit"] == 1
        assert out["neg"]["worst_digit"] == 8
        assert out["mid"]["worst_digit"] == 1
        assert "inf" not in out and "nan" not in out

    def test_digit_extraction_matches_duckdb(self, spark):
        """The string-form first digit agrees with the oracle's DuckDB
        expression across magnitudes 10⁻¹..10³⁰⁸-ish — shortest-round-
        trip rendering leads with the same significant digit in both
        engines (positional AND scientific ranges)."""
        import duckdb
        vals = [1.0, 9.999, 123.456, 99999.0, 1e7, 1.23e8, 7.77e15,
                9.4e18, 1.23e19, 2.5e20, 6.02e23, 1.7976931348623157e308]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        from pyspark.sql import functions as F
        sp = [r["d"] for r in df.select(
            F.substring(F.abs(F.col("v")).cast("string"), 1, 1)
            .cast("int").alias("d")).collect()]
        con = duckdb.connect()
        dk = [con.execute(
            "SELECT CAST(substr(CAST(abs(CAST(? AS DOUBLE)) AS VARCHAR),"
            " 1, 1) AS INT)", [v]).fetchone()[0] for v in vals]
        expect = [1, 9, 1, 9, 1, 1, 7, 9, 1, 2, 6, 1]
        assert sp == dk == expect


class TestCusumChangePoint:
    """Standardized CUSUM mean-shift scan: a planted shift is found at
    the right bucket, a flat series has small tmax, singletons yield
    NULL, tie-break is earliest."""

    def test_planted_shift_found(self, spark):
        from spark_expectations_spark.operators import drift
        # buckets 1..10, mean 0 for 1-5 and 10 for 6-10 -> change at 5
        rows = [(b, 0.0 if b <= 5 else 10.0) for b in range(1, 11)]
        df = spark.createDataFrame(rows, "day int, v double")
        r = drift.cusum_change_point(df, "day", "v").first()
        assert r["n_buckets"] == 10 and r["change_at"] == 5
        assert r["mean_left"] == pytest.approx(0.0)
        assert r["mean_right"] == pytest.approx(10.0)
        assert r["tmax"] == pytest.approx(
            abs(5 * 0.0 - 5 * 5.0) * (10 / (5 * 5)) ** 0.5)

    def test_flat_series_small_stat_and_groups(self, spark):
        from spark_expectations_spark.operators import drift
        rows = ([("flat", b, 1.0) for b in range(1, 9)]
                + [("shift", b, 0.0 if b <= 3 else 4.0)
                   for b in range(1, 9)]
                + [("solo", 1, 9.9)])
        df = spark.createDataFrame(rows, "g string, day int, v double")
        out = {r["g"]: r for r in drift.cusum_change_point(
            df, "day", "v", group_cols=("g",)).collect()}
        assert out["flat"]["tmax"] == pytest.approx(0.0)
        assert out["shift"]["change_at"] == 3
        assert out["solo"]["n_buckets"] == 1
        assert out["solo"]["change_at"] is None
        assert out["solo"]["tmax"] is None

    def test_tie_breaks_to_earliest_bucket(self, spark):
        from spark_expectations_spark.operators import drift
        # symmetric bump: T is equal at k=1 and k=3 -> earliest wins
        rows = [(1, 0.0), (2, 3.0), (3, 3.0), (4, 0.0)]
        df = spark.createDataFrame(rows, "day int, v double")
        r = drift.cusum_change_point(df, "day", "v").first()
        assert r["change_at"] == 1

    def test_reserved_name_guard(self, spark):
        from spark_expectations_spark.operators import drift
        df = spark.createDataFrame([(1, 1.0, "x")],
                                   "day int, v double, tmax string")
        with pytest.raises(ValueError, match="group_cols"):
            drift.cusum_change_point(df, "day", "v",
                                     group_cols=("tmax",))


class TestVocabGrowthCurve:
    """Heaps-law growth audit: hand-built curve with a repeated-vocab
    flat tail, checkpoint-boundary inclusion, guards."""

    def test_growth_and_flat_tail(self, spark):
        from spark_expectations_spark.operators import text
        rows = [(1, "a b"), (2, "b c"), (3, "a b"), (4, "c a b")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["checkpoint"]: r for r in text.vocab_growth_curve(
            df, "doc_id", "text", [1, 2, 4]).collect()}
        assert (out[1]["n_docs"], out[1]["n_tokens"], out[1]["vocab"]) \
            == (1, 2, 2)
        assert (out[2]["n_docs"], out[2]["n_tokens"], out[2]["vocab"]) \
            == (2, 4, 3)
        # docs 3-4 add tokens but NO new types: the flat tail
        assert (out[4]["n_docs"], out[4]["n_tokens"], out[4]["vocab"]) \
            == (4, 9, 3)
        assert out[4]["type_token_ratio"] == pytest.approx(3 / 9)

    def test_checkpoint_boundary_is_inclusive(self, spark):
        from spark_expectations_spark.operators import text
        df = spark.createDataFrame([(5, "x y")], "doc_id long, text string")
        out = {r["checkpoint"]: r["vocab"] for r in text.vocab_growth_curve(
            df, "doc_id", "text", [4, 5]).collect()}
        assert out == {4: 0, 5: 2}

    def test_empty_checkpoints_guard(self, spark):
        from spark_expectations_spark.operators import text
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="checkpoint"):
            text.vocab_growth_curve(df, "doc_id", "text", [])

    def test_duplicate_checkpoints_collapse(self, spark):
        """A colliding grid (max(1, n·i//5) at small n) emits ONE row
        per distinct checkpoint — the duplicate prefix is the same
        prefix (ADVICE r14); values match the dedup'd grid's."""
        from spark_expectations_spark.operators import text
        rows = [(1, "a b"), (2, "b c"), (3, "a b")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = text.vocab_growth_curve(
            df, "doc_id", "text", [1, 1, 2, 3, 3]).collect()
        assert sorted(r["checkpoint"] for r in got) == [1, 2, 3]
        clean = {r["checkpoint"]: r for r in text.vocab_growth_curve(
            df, "doc_id", "text", [1, 2, 3]).collect()}
        for r in got:
            c = clean[r["checkpoint"]]
            assert (r["n_docs"], r["n_tokens"], r["vocab"]) == \
                (c["n_docs"], c["n_tokens"], c["vocab"])


class TestSchemaDriftReport:
    """Schema/null-rate drift: added, removed, retyped, and
    null-delta rows; identical snapshots report no drift."""

    def test_added_removed_retyped_and_null_delta(self, spark):
        from spark_expectations_spark.operators import profiling
        base = spark.createDataFrame(
            [(1, 1.0, "x"), (2, 2.0, None)],
            "id long, price double, tag string")
        cur = spark.createDataFrame(
            [(1, "1.0", 7), (2, None, 8)],
            "id long, price string, rank int")
        rows = {r["column"]: r for r in profiling.schema_drift_report(
            base, cur).collect()}
        assert rows["rank"]["status"] == "added"
        assert rows["rank"]["type_base"] is None
        assert rows["tag"]["status"] == "removed"
        assert rows["tag"]["null_frac_cur"] is None
        p = rows["price"]
        assert (p["status"], p["type_changed"]) == ("common", True)
        assert (p["type_base"], p["type_cur"]) == ("double", "string")
        assert p["null_frac_base"] == 0.0
        assert p["null_frac_cur"] == pytest.approx(0.5)
        assert p["null_frac_delta"] == pytest.approx(0.5)
        assert rows["id"]["type_changed"] is False

    def test_identical_snapshots_no_drift(self, spark):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame([(1, "a")], "id long, s string")
        out = profiling.schema_drift_report(df, df).collect()
        assert all(r["status"] == "common" and not r["type_changed"]
                   and r["null_frac_delta"] == 0.0 for r in out)

    def test_column_names_needing_quoting(self, spark):
        """Producer schemas carry dots and spaces — the null-frac agg
        must treat them as column NAMES, not struct-field paths."""
        from spark_expectations_spark.operators import profiling
        df = (spark.createDataFrame([(1, "x")], "a long, b string")
              .withColumnRenamed("a", "weird.name")
              .withColumnRenamed("b", "with space"))
        rows = {r["column"]: r for r in profiling.schema_drift_report(
            df, df).collect()}
        assert set(rows) == {"weird.name", "with space"}
        assert rows["weird.name"]["null_frac_delta"] == 0.0


class TestKAnonymityReport:
    """k-anonymity/l-diversity audit: hand-computed group structure,
    the l-diversity leak a pure-k audit misses, NULL-QI semantics."""

    def test_hand_computed_k_and_l(self, spark):
        from spark_expectations_spark.operators import profiling
        # QI groups: (a,1)x5 (safe, sensitive diverse), (a,2)x2 (below
        # k, sensitive CONSTANT -> also below l), (b,1)x1 (below k)
        rows = ([("a", 1, i % 2) for i in range(5)]
                + [("a", 2, 0), ("a", 2, 0)]
                + [("b", 1, 1)])
        df = spark.createDataFrame(rows, "q1 string, q2 int, s int")
        r = profiling.k_anonymity_report(
            df, ("q1", "q2"), k=3, sensitive_col="s", l=2).first()
        assert (r["n_rows"], r["n_groups"], r["min_group_size"]) == (8, 3, 1)
        assert r["n_rows_below_k"] == 3
        assert r["frac_rows_below_k"] == pytest.approx(3 / 8)
        assert r["min_l"] == 1
        assert r["n_groups_below_l"] == 2      # (a,2) and the singleton
        assert r["n_rows_in_groups_below_l"] == 3

    def test_null_qi_forms_its_own_group(self, spark):
        from spark_expectations_spark.operators import profiling
        rows = [("x",), (None,), (None,)]
        df = spark.createDataFrame(rows, "q string")
        r = profiling.k_anonymity_report(df, ("q",), k=2).first()
        # NULLs group together (2 rows); "x" is the k-violating singleton
        assert r["n_groups"] == 2 and r["n_rows_below_k"] == 1

    def test_guards_and_k_only_shape(self, spark):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame([("x", 0)], "q string, s int")
        with pytest.raises(ValueError, match="qi_cols"):
            profiling.k_anonymity_report(df, ())
        with pytest.raises(ValueError, match="k must"):
            profiling.k_anonymity_report(df, ("q",), k=0)
        with pytest.raises(ValueError, match="l must"):
            profiling.k_anonymity_report(df, ("q",), sensitive_col="s",
                                         l=0)
        cols = profiling.k_anonymity_report(df, ("q",), k=2).columns
        assert "min_l" not in cols             # l-columns only with a
                                               # sensitive column


class TestTimeWeightedMean:
    """Zero-order-hold TWA: hand-computed weighting, the plain-avg
    divergence it exists to fix, single-sample drop, guards."""

    def test_hand_computed_hold_weighting(self, spark):
        from spark_expectations_spark.operators import asof
        # user a: value 10 held for 1ns, then 20 held for 3ns
        #   twa = (10*1 + 20*3) / 4 = 17.5 ; plain avg of samples would
        #   be (10+20+0)/3 = 10 — the bursty-sampling skew
        rows = [("a", 0, 10.0), ("a", 1, 20.0), ("a", 4, 0.0),
                ("b", 0, 5.0), ("b", 10, 7.0),
                ("solo", 3, 99.0)]
        df = spark.createDataFrame(rows, "u string, ts long, value double")
        out = {r["u"]: r for r in asof.time_weighted_mean(
            df, "ts", "value", ("u",)).collect()}
        assert out["a"]["n_intervals"] == 2
        assert out["a"]["span_ns"] == 4
        assert out["a"]["twa"] == pytest.approx(17.5)
        assert out["b"]["twa"] == pytest.approx(5.0)   # 5 held the span
        assert out["b"]["span_ns"] == 10
        assert "solo" not in out                       # no interval

    def test_guards(self, spark):
        from spark_expectations_spark.operators import asof
        df = spark.createDataFrame([("a", 0, 1.0)],
                                   "u string, ts long, value double")
        with pytest.raises(ValueError, match="group_cols"):
            asof.time_weighted_mean(df, "ts", "value", ())
        with pytest.raises(ValueError, match="collide"):
            asof.time_weighted_mean(
                df.withColumnRenamed("u", "twa"), "ts", "value", ("twa",))
        # non-integral, non-timestamp ts raises instead of producing
        # interval arithmetic with silently different units (ADVICE r14)
        with pytest.raises(TypeError, match="integer-nanosecond"):
            asof.time_weighted_mean(
                df.withColumn("ts", df.ts.cast("string")),
                "ts", "value", ("u",))
        with pytest.raises(TypeError, match="integer-nanosecond"):
            asof.time_weighted_mean(
                df.withColumn("ts", df.ts.cast("double")),
                "ts", "value", ("u",))

    def test_timestamp_type_normalizes_to_ns(self, spark):
        """A TimestampType ts_col gives the SAME result as its
        integer-ns twin: unix_micros·1000 is exact at µs precision, so
        spans scale by 1000 and the twa ratio is unit-invariant."""
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import asof
        rows = [("a", 0, 10.0), ("a", 1_000_000, 20.0),
                ("a", 4_000_000, 0.0), ("b", 0, 5.0),
                ("b", 10_000_000, 7.0)]
        base = spark.createDataFrame(rows, "u string, us long, value double")
        as_ts = base.select(
            "u", F.timestamp_micros(F.col("us")).alias("ts"), "value")
        as_ns = base.select(
            "u", (F.col("us") * 1000).alias("ts"), "value")
        got_ts = {r["u"]: r for r in asof.time_weighted_mean(
            as_ts, "ts", "value", ("u",)).collect()}
        got_ns = {r["u"]: r for r in asof.time_weighted_mean(
            as_ns, "ts", "value", ("u",)).collect()}
        assert set(got_ts) == set(got_ns) == {"a", "b"}
        for u in got_ns:
            assert got_ts[u]["span_ns"] == got_ns[u]["span_ns"]
            assert got_ts[u]["n_intervals"] == got_ns[u]["n_intervals"]
            assert got_ts[u]["twa"] == pytest.approx(got_ns[u]["twa"])
        assert got_ts["a"]["twa"] == pytest.approx(17.5)


class TestAsofRange:
    def test_asof_backward_matches_merge_asof(self, spark):
        import pandas as pd
        from spark_expectations_spark.operators import asof
        left = spark.createDataFrame(
            [(1, 10, "a"), (1, 25, "b"), (1, 5, "c"), (2, 50, "d")],
            "k long, ts long, name string")
        right = spark.createDataFrame(
            [(1, 10, 100.0), (1, 20, 200.0), (2, 60, 600.0)],
            "k long, ts long, val double")
        out = asof.asof_join(left, right, on=["k"], left_ts="ts",
                             right_ts="ts", value_cols=["val"])
        got = {r["name"]: r["val"] for r in out.collect()}
        # pandas merge_asof semantics: inclusive backward match
        lp = pd.DataFrame({"k": [1, 1, 1, 2], "ts": [10, 25, 5, 50],
                           "name": list("abcd")}).sort_values("ts")
        rp = pd.DataFrame({"k": [1, 1, 2], "ts": [10, 20, 60],
                           "val": [100.0, 200.0, 600.0]}).sort_values("ts")
        exp = pd.merge_asof(lp, rp, on="ts", by="k")
        exp_map = {r["name"]: (None if pd.isna(r["val"]) else r["val"])
                   for _, r in exp.iterrows()}
        assert got == exp_map

    def test_asof_forward_and_tolerance(self, spark):
        from spark_expectations_spark.operators import asof
        left = spark.createDataFrame([(1, 10, "a"), (1, 100, "b")],
                                     "k long, ts long, name string")
        right = spark.createDataFrame([(1, 12, 1.0), (1, 300, 3.0)],
                                      "k long, ts long, val double")
        fwd = asof.asof_join(left, right, on=["k"], left_ts="ts",
                             right_ts="ts", value_cols=["val"],
                             direction="forward")
        got = {r["name"]: r["val"] for r in fwd.collect()}
        assert got == {"a": 1.0, "b": 3.0}
        tol = asof.asof_join(left, right, on=["k"], left_ts="ts",
                             right_ts="ts", value_cols=["val"],
                             direction="forward", tolerance=10)
        got = {r["name"]: r["val"] for r in tol.collect()}
        assert got == {"a": 1.0, "b": None}  # 300-100 > 10

    def test_asof_single_shuffle(self, spark):
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators import asof
        left = spark.range(100).selectExpr("id % 5 AS k", "id AS ts")
        right = spark.range(20).selectExpr("id % 5 AS k", "id * 3 AS ts",
                                           "id * 1.0 AS val")
        out = asof.asof_join(left, right, on=["k"], left_ts="ts",
                             right_ts="ts", value_cols=["val"])
        assert plans.num_shuffles(out) == 1  # the window; no join node

    def test_range_join_matches_theta_join(self, spark):
        from spark_expectations_spark.operators import asof
        points = spark.range(200).selectExpr("id AS pid", "id * 7.0 AS v")
        intervals = spark.createDataFrame(
            [("low", 0.0, 300.0), ("mid", 300.0, 900.0),
             ("hi", 900.0, 1400.0), ("empty", 2000.0, 2100.0)],
            "band string, lo double, hi double")
        fast = asof.range_join(points, intervals, point_col="v",
                               lo_col="lo", hi_col="hi", bucket_width=250.0)
        slow = points.join(intervals,
                           (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi")))
        key = lambda r: (r["pid"], r["band"])  # noqa: E731
        assert sorted(map(key, fast.collect())) == sorted(map(key, slow.collect()))
        # boundary: hi is exclusive, lo inclusive (300 sits on both a band
        # edge and a bucket edge: 300/250 -> bucket 1)
        edge = spark.createDataFrame([(0, 300.0)], "pid long, v double")
        hit = asof.range_join(edge, intervals, point_col="v",
                              lo_col="lo", hi_col="hi", bucket_width=250.0)
        assert {r["band"] for r in hit.collect()} == {"mid"}


class TestIVFPartitionPruning:
    def test_centroid_partitioned_corpus_prunes(self, spark, tmp_path):
        """The IVF scale path: corpus written partitionBy(centroid_id) →
        a probe restricted to nprobe centroids reads only those
        partitions (PartitionFilters in the scan, not a full scan)."""
        from spark_expectations_spark import plans
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        assigned = emb.withColumn(
            "centroid_id", F.pmod(F.xxhash64("vec_id"), F.lit(8)))
        path = str(tmp_path / "ivf_corpus")
        assigned.write.partitionBy("centroid_id").parquet(path)
        probe = spark.read.parquet(path).filter(F.col("centroid_id").isin(1, 3))
        txt = plans.plan_text(probe)
        assert "PartitionFilters" in txt and "centroid_id" in txt
        n_all = spark.read.parquet(path).count()
        assert 0 < probe.count() < n_all


class TestSampling:
    def test_split_is_deterministic_and_partition_invariant(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.range(2000).selectExpr("id AS k")
        s1 = sampling.with_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
        s2 = sampling.with_split(df.repartition(13), "k",
                                 {"train": 0.8, "val": 0.1, "test": 0.1})
        m1 = {r["k"]: r["split"] for r in s1.collect()}
        m2 = {r["k"]: r["split"] for r in s2.collect()}
        assert m1 == m2
        counts = s1.groupBy("split").count().collect()
        by = {r["split"]: r["count"] for r in counts}
        assert set(by) == {"train", "val", "test"}
        assert 0.75 < by["train"] / 2000 < 0.85

    def test_sample_fraction_and_subset_property(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.range(5000).selectExpr("id AS k")
        s10 = {r["k"] for r in sampling.deterministic_sample(df, "k", 0.1).collect()}
        s20 = {r["k"] for r in sampling.deterministic_sample(df, "k", 0.2).collect()}
        assert s10 <= s20          # nested samples: growing fraction only adds
        assert 0.06 < len(s10) / 5000 < 0.14

    def test_stratified_fractions(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.range(4000).selectExpr(
            "id AS k", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS s")
        out = sampling.stratified_deterministic_sample(
            df, "k", "s", {"a": 0.5, "b": 0.05})
        by = {r["s"]: r["count"]
              for r in out.groupBy("s").count().collect()}
        assert 0.4 < by["a"] / 2000 < 0.6
        assert 0.02 < by["b"] / 2000 < 0.09


class TestResize:
    def test_resize_deterministic_and_typed(self, docs):
        with_bin = multimodal.synthesize_binary_column(docs.limit(10), "text")
        r1 = multimodal.resize_media(with_bin, id_col="doc_id",
                                     binary_col="media_bytes",
                                     width=32, height=16)
        rows = {r["doc_id"]: r for r in r1.collect()}
        assert all(r["width"] == 32 and r["height"] == 16
                   for r in rows.values())
        assert all(len(r["resized_bytes"]) == 32 * 16 // 64
                   for r in rows.values())
        r2 = multimodal.resize_media(with_bin, id_col="doc_id",
                                     binary_col="media_bytes",
                                     width=32, height=16)
        assert rows == {r["doc_id"]: r for r in r2.collect()}

    def test_real_codec_requires_fn(self, docs):
        with_bin = multimodal.synthesize_binary_column(docs.limit(1), "text")
        with pytest.raises(NotImplementedError):
            multimodal.resize_media(with_bin, id_col="doc_id",
                                    binary_col="media_bytes",
                                    width=8, height=8, codec="jpeg")


class TestJaccardStopShingles:
    def test_high_threshold_is_noop(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
             (3, "completely different text body here")],
            "doc_id int, text string")
        base = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.9).collect()
        filt = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.9,
                                   max_shingle_df=100).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, filt))

    def test_stop_filter_lower_bounds_jaccard(self, spark):
        # shingles shared by ALL docs get dropped at df<=1: identical pair
        # loses every common shingle -> no pair survives the threshold
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e")], "doc_id int, text string")
        out = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.1,
                                  max_shingle_df=1).collect()
        assert out == []


class TestProfiling:
    def test_profile_matches_direct_queries(self, spark):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame(
            [(1, 2.0, "a"), (2, None, "b"), (None, 4.0, "b")],
            "x int, y double, s string")
        prof = {r["column"]: r for r in
                profiling.profile_table(df, exact_distinct=True).collect()}
        assert prof["x"]["n_nulls"] == 1 and prof["x"]["n_distinct"] == 2
        assert prof["y"]["min_value"] == 2.0 and prof["y"]["max_value"] == 4.0
        assert prof["s"]["n_distinct"] == 2 and prof["s"]["min_value"] is None
        assert abs(prof["x"]["null_pct"] - 100 / 3) < 0.01

    def test_suggested_rules_run_clean(self, spark):
        """Rules drafted from a profile must pass on the data they were
        profiled from (the range/not-null invariants hold by construction)."""
        from spark_expectations_spark import DQConfig, DQEngine, RuleSet
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame([(1, 5.0), (2, 7.5)], "x int, y double")
        prof = profiling.profile_table(df, exact_distinct=True)
        rules = profiling.suggest_rules(prof, product_id="p", table_name="t")
        assert {r.rule for r in rules} == {
            "x_not_null", "x_range", "y_not_null", "y_range"}
        res = DQEngine(DQConfig(product_id="p", table_name="t",
                                write_error_table=False)).run(
            df, RuleSet(rules), spark)
        assert res.error_count == 0


class TestConnectedComponents:
    def test_chain_and_islands(self, spark):
        # chain 1-2-3-4 (diameter 3), pair (10,11), singleton edges absent
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
        cc = {r["node"]: r["component"]
              for r in graph.connected_components(
                  pairs, src="id_a", dst="id_b").collect()}
        assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
        clusters = {r["cluster_id"]: r["n_members"]
                    for r in dedup.dedup_clusters(pairs).collect()}
        assert clusters == {1: 4, 10: 2}

    def test_star_converges_fast(self, spark):
        pairs = spark.createDataFrame(
            [(5, i) for i in range(6, 12)], "id_a long, id_b long")
        clusters = dedup.dedup_clusters(pairs).collect()
        assert [(r["cluster_id"], r["n_members"]) for r in clusters] == [(5, 7)]

    # A 41-node chain, 40 hops deep: every caller must see ONE cluster
    # however long the chain, or the split guards leak it.
    @pytest.fixture
    def chain(self, spark):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a long, id_b long")

    def test_deep_chain_is_one_cluster(self, chain):
        clusters = [tuple(r) for r in dedup.dedup_clusters(chain).collect()]
        assert clusters == [(0, 41)]

    def test_deep_chain_keeps_one_canonical_row(self, spark, chain):
        docs = spark.createDataFrame(
            [(i, i % 7) for i in range(41)], "doc_id long, score long")
        for kw in ({"score_col": "score"}, {"strategy": "centrality"}):
            kept = dedup.canonical_per_cluster(
                docs, chain, "doc_id", **kw).collect()
            assert [(r["cluster_id"], r["n_members"]) for r in kept] == \
                [(0, 41)], kw

    def test_deep_chain_shares_one_split_and_fold(self, spark, chain):
        from spark_expectations_spark.operators import sampling
        docs = spark.createDataFrame([(i,) for i in range(41)],
                                     "doc_id long")
        split = sampling.leakage_safe_split(
            docs, chain, "doc_id", {"train": 0.5, "eval": 0.5})
        got = [r["split"] for r in split.collect()]
        assert len(got) == 41 and len(set(got)) == 1
        rep = sampling.split_leakage_report(split, chain, "doc_id").first()
        assert rep["n_pairs"] == 40 and rep["n_leaked"] == 0
        folds = [r["fold"] for r in sampling.leakage_safe_kfold(
            docs, chain, "doc_id", 5).collect()]
        assert len(folds) == 41 and len(set(folds)) == 1

    def test_no_pairs_every_row_is_its_own_cluster(self, spark):
        """Empty in, empty out: a corpus with no duplicate pairs passes
        through whole, each row its own cluster."""
        from spark_expectations_spark.operators import sampling
        docs = spark.createDataFrame([(1, 5), (2, 3), (7, 9)],
                                     "doc_id long, score long")
        none = spark.createDataFrame([], "id_a long, id_b long")
        kept = dedup.canonical_per_cluster(docs, none, "doc_id",
                                           score_col="score")
        assert sorted((r["doc_id"], r["cluster_id"], r["n_members"])
                      for r in kept.collect()) == \
            [(1, 1, 1), (2, 2, 1), (7, 7, 1)]
        split = sampling.leakage_safe_split(
            docs, none, "doc_id", {"train": 0.5, "eval": 0.5})
        solo = sampling.with_split(docs, "doc_id",
                                   {"train": 0.5, "eval": 0.5})
        assert sorted(map(tuple, split.collect())) == \
            sorted(map(tuple, solo.collect()))
        assert dedup.dedup_clusters(none).collect() == []


class TestMinhashIndexQuery:
    def test_matches_all_pairs_cross_subset(self, docs):
        """Incremental index query == the all-pairs result restricted to
        (corpus, batch) cross pairs — same bands, same refine, so the
        sets must be identical, proving nothing is lost by indexing."""
        corpus = docs.filter("doc_id < 250")
        batch = docs.filter("doc_id >= 250")
        index_sigs = dedup.minhash_signatures(
            corpus, "doc_id", "text", n=3, num_hashes=16)
        inc = {(r.batch_id, r.index_id, round(r.est_jaccard, 6))
               for r in dedup.minhash_index_query(
                   batch, index_sigs, "doc_id", "text", n=3, num_hashes=16,
                   bands=4, threshold=0.25).collect()}
        allp = dedup.minhash_dedup_pairs(
            docs, "doc_id", "text", n=3, num_hashes=16, bands=4,
            threshold=0.25)
        cross = {
            (max(r.id_a, r.id_b), min(r.id_a, r.id_b),
             round(r.est_jaccard, 6))
            for r in allp.collect()
            if (r.id_a < 250) != (r.id_b < 250)
        }
        assert inc == cross and inc  # identical and non-empty


class TestCanonicalPerCluster:
    def _docs(self, spark):
        return spark.createDataFrame(
            [(1, 10), (2, 30), (3, 30), (4, 5), (10, 7), (11, 9), (20, 1)],
            "doc_id long, score long")

    def test_best_score_wins_ties_to_lowest_id(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
        kept = dedup.canonical_per_cluster(
            self._docs(spark), pairs, "doc_id", score_col="score")
        rows = {r.doc_id: (r.cluster_id, r.n_members, r.score)
                for r in kept.collect()}
        # cluster {1,2,3,4}: 2 and 3 tie at 30 -> 2 wins (lowest id)
        # cluster {10,11}: 11 wins on score; singleton 20 passes through
        assert rows == {2: (1, 4, 30), 11: (10, 2, 9), 20: (20, 1, 1)}

    def test_drop_singletons(self, spark):
        pairs = spark.createDataFrame([(10, 11)], "id_a long, id_b long")
        kept = dedup.canonical_per_cluster(
            self._docs(spark), pairs, "doc_id", score_col="score",
            keep_singletons=False)
        assert [r.doc_id for r in kept.collect()] == [11]

    def test_centrality_picks_hub_not_score(self, spark):
        """Star cluster 1-2, 2-3, 2-4: node 2 has degree 3 and must
        win under centrality even though node 3 has the best score
        and node 1 the lowest id; singletons get degree 0."""
        docs = spark.createDataFrame(
            [(1, 10), (2, 5), (3, 99), (4, 7), (20, 1)],
            "doc_id long, score long")
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (2, 4)], "id_a long, id_b long")
        kept = dedup.canonical_per_cluster(
            docs, pairs, "doc_id", strategy="centrality")
        rows = {r.doc_id: (r.cluster_id, r.n_members, r.degree)
                for r in kept.collect()}
        assert rows == {2: (1, 4, 3), 20: (20, 1, 0)}
        # score strategy on the same graph picks 3 instead
        by_score = dedup.canonical_per_cluster(
            docs, pairs, "doc_id", score_col="score")
        assert {r.doc_id for r in by_score.collect()} == {3, 20}

    def test_strategy_validation(self, spark):
        import pytest as _pytest
        docs = self._docs(spark)
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with _pytest.raises(ValueError, match="strategy"):
            dedup.canonical_per_cluster(docs, pairs, "doc_id",
                                        strategy="medoid")
        with _pytest.raises(ValueError, match="score_col"):
            dedup.canonical_per_cluster(docs, pairs, "doc_id")

    def test_window_is_cluster_partitioned(self, spark):
        """Plan pin: the per-cluster rank runs a PARTITIONED window —
        no 'Window' node without a partition spec (global sort)."""
        from spark_expectations_spark import plans
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        kept = dedup.canonical_per_cluster(
            self._docs(spark), pairs, "doc_id", score_col="score")
        txt = plans.plan_text(kept, "simple")
        for line in txt.splitlines():
            if "Window [" in line:
                assert "partitionBy" not in line or "cluster_id" in line
                assert "windowspecdefinition(cluster_id" in line.replace(" ", "") \
                    or "cluster_id" in line


class TestPacking:
    def test_offsets_are_exclusive_cumsum_within_budget(self, docs):
        from spark_expectations_spark.operators.packing import pack_for_training
        packed = pack_for_training(docs, "doc_id", "n_chars",
                                   budget=10_000, n_streams=8)
        rows = packed.select("stream", "doc_id", "n_chars",
                             "pack_id", "pack_offset").collect()
        by_stream = {}
        for r in sorted(rows, key=lambda r: (r.stream, r.doc_id)):
            run = by_stream.get(r.stream, 0)
            assert r.pack_id == run // 10_000
            assert r.pack_offset == run % 10_000
            by_stream[r.stream] = run + r.n_chars
        assert len(by_stream) > 1  # hashing actually spreads streams

    def test_partition_invariant(self, docs):
        from spark_expectations_spark.operators.packing import pack_for_training
        a = pack_for_training(docs, "doc_id", "n_chars", budget=5_000,
                              n_streams=4).select("doc_id", "pack_id", "pack_offset")
        b = pack_for_training(docs.repartition(13), "doc_id", "n_chars",
                              budget=5_000, n_streams=4) \
            .select("doc_id", "pack_id", "pack_offset")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_single_shuffle(self, docs):
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators.packing import pack_for_training
        packed = pack_for_training(docs, "doc_id", "n_chars", budget=10_000)
        assert plans.num_shuffles(packed) == 1

    def test_bad_args(self, docs):
        from spark_expectations_spark.operators.packing import pack_for_training
        with pytest.raises(ValueError):
            pack_for_training(docs, "doc_id", "n_chars", budget=0)
        with pytest.raises(ValueError):
            pack_for_training(docs, "doc_id", "n_chars", budget=10, n_streams=0)


class TestContamination:
    def test_planted_near_dup_is_flagged(self, spark):
        base = ("the quick brown fox jumps over the lazy dog and runs far "
                "away into the deep green forest tonight")
        train = spark.createDataFrame(
            [(1, base + " extra tail"), (2, "completely different words "
              "about spark engines and columnar execution plans here")],
            ["doc_id", "text"])
        test = spark.createDataFrame([(100, base)], ["doc_id", "text"])
        got = dedup.contamination(train, test, "doc_id", "text",
                                  n=3, min_overlap=0.5).collect()
        assert [r.doc_id for r in got] == [1]
        r = got[0]
        assert r.n_shared <= r.n_shingles and r.overlap >= 0.5

    def test_disjoint_sets_empty(self, spark):
        train = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"])
        test = spark.createDataFrame(
            [(2, "one two three four five six seven")], ["doc_id", "text"])
        assert dedup.contamination(train, test, "doc_id", "text",
                                   n=3, min_overlap=0.1).count() == 0

    def test_decontaminate_spans_salvages_not_drops(self, spark):
        """Every occurrence of a test-set n-gram is excised (no
        first-copy exemption — test material has no legitimate train
        copy), clean docs pass untouched, NULL stays NULL, sub-n docs
        are untouched."""
        train = spark.createDataFrame(
            [(1, "intro words here the capital of france is paris "
                 "closing words"),
             (2, "totally unrelated content about spark plans"),
             (3, None), (4, "tiny doc")], ["doc_id", "text"])
        test = spark.createDataFrame(
            [(100, "q the capital of france is paris a")],
            ["doc_id", "text"])
        got = {r["doc_id"]: r for r in dedup.decontaminate_spans(
            train, test, "doc_id", "text", n=5).collect()}
        assert got[1]["decon_text"] == "intro words here closing words"
        assert (got[1]["n_tokens"], got[1]["removed_tokens"]) == (11, 6)
        assert got[2]["removed_tokens"] == 0
        assert got[3]["decon_text"] is None
        assert got[4]["decon_text"] == "tiny doc"
        # exact and hashed key families excise identical spans
        exact = {r["doc_id"]: r["decon_text"]
                 for r in dedup.decontaminate_spans(
                     train, test, "doc_id", "text", n=5,
                     hash_family="exact").collect()}
        assert exact == {k: r["decon_text"] for k, r in got.items()}

    def test_screened_variant_is_row_identical(self, spark):
        """The Bloom sketch-then-confirm variant must return EXACTLY
        the exact operator's rows (no false negatives in the screen,
        false positives removed by the confirm) — even with a tiny,
        collision-heavy filter."""
        from spark_expectations_spark.queries import load
        docs = load(spark, SF, "documents")
        train = docs.filter("doc_id % 10 < 8")
        test = docs.filter("doc_id % 10 >= 8")
        exact = dedup.contamination(train, test, "doc_id", "text",
                                    n=3, min_overlap=0.5)
        for bits in (1 << 16, 256):   # roomy and deliberately cramped
            screened = dedup.contamination_screened(
                train, test, "doc_id", "text", n=3, min_overlap=0.5,
                n_bits=bits, k=3)
            assert sorted(map(tuple, screened.collect())) == \
                sorted(map(tuple, exact.collect())), bits


class TestSketches:
    def test_hll_estimates_close_to_exact(self, spark):
        from spark_expectations_spark.operators import sketches
        from spark_expectations_spark.queries import load
        ev = load(spark, SF, "events")
        got = {r.event_type: r.approx_distinct
               for r in sketches.hll_by_group(ev, ["event_type"], "user_id")
               .collect()}
        exact = {r.event_type: r.n for r in
                 ev.groupBy("event_type")
                 .agg(F.countDistinct("user_id").alias("n")).collect()}
        assert set(got) == set(exact)
        for k in exact:
            assert abs(got[k] - exact[k]) <= max(0.05 * exact[k], 2), (k, got[k], exact[k])

    def test_rollup_of_sketches_equals_direct_sketch(self, spark):
        """Union of per-group sketches == sketch of the union — the
        invariant that makes persisted sketch tables trustworthy."""
        from spark_expectations_spark.operators import sketches
        from spark_expectations_spark.queries import load
        ev = load(spark, SF, "events")
        per_type = sketches.hll_by_group(ev, ["event_type"], "user_id")
        merged = sketches.hll_rollup(per_type, []).first().approx_distinct
        direct = sketches.hll_by_group(
            ev.withColumn("g", F.lit(1)), ["g"], "user_id").first().approx_distinct
        assert merged == direct

    def test_kll_quantiles_bracket_exact_percentiles(self, spark):
        from spark_expectations_spark.operators import sketches
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        got = sketches.kll_quantiles_by_group(
            li, ["l_returnflag"], "l_extendedprice", [0.5]).collect()
        exact = {r.l_returnflag: r.m for r in
                 li.groupBy("l_returnflag")
                 .agg(F.expr("percentile(l_extendedprice, 0.5)").alias("m"))
                 .collect()}
        lo_hi = {r.l_returnflag: (r.l_returnflag, r.q5) for r in got}
        for r in got:
            ex = exact[r.l_returnflag]
            assert abs(r.q5 - ex) / ex < 0.10, (r.l_returnflag, r.q5, ex)

    def test_theta_estimate_close(self, spark):
        from spark_expectations_spark.operators import sketches
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        est = sketches.theta_distinct_by_group(
            docs.withColumn("g", F.lit(1)), ["g"], "doc_id").first().approx_distinct
        exact = docs.select("doc_id").distinct().count()
        assert abs(est - exact) <= max(0.05 * exact, 2)

    def test_bitmap_distinct_is_exact(self, spark):
        """Unlike HLL/theta there is no tolerance: bitmap counts must
        EQUAL count(distinct) per group and in total."""
        from spark_expectations_spark.operators import sketches
        from spark_expectations_spark.queries import load
        ev = load(spark, SF, "events")
        bm = sketches.bitmap_distinct_by_group(
            ev, ["event_type"], "user_id")
        got = {r.event_type: r.n_distinct for r in
               sketches.bitmap_distinct_rollup(
                   bm, ["event_type"]).collect()}
        exact = {r.event_type: r.n for r in
                 ev.groupBy("event_type")
                 .agg(F.countDistinct("user_id").alias("n")).collect()}
        assert got == exact
        total = sketches.bitmap_distinct_rollup(bm, []).first().n_distinct
        assert total == ev.select("user_id").distinct().count()

    def test_bitmap_negative_values_count_exactly(self, spark):
        """bitmap_bucket_number handles negative keys; exactness must
        hold across the sign boundary."""
        from spark_expectations_spark.operators import sketches
        df = spark.createDataFrame(
            [(1, -5), (1, -5), (1, 3), (1, -70000)], "g int, v long")
        got = sketches.bitmap_distinct_rollup(
            sketches.bitmap_distinct_by_group(df, ["g"], "v"),
            ["g"]).first()
        assert got["n_distinct"] == 3

    def test_bitmap_merge_invariant_and_nulls(self, spark):
        """OR-merge of incrementally-built bitmaps == bitmap of the
        union (the persisted-rollup-table contract); NULL keys skip."""
        from spark_expectations_spark.operators import sketches
        a = spark.createDataFrame(
            [(1, 10), (1, 11), (1, None), (2, 10)],
            "g int, v long")
        b = spark.createDataFrame(
            [(1, 11), (1, 99999), (2, None)], "g int, v long")
        bm_inc = sketches.bitmap_distinct_by_group(a, ["g"], "v").union(
            sketches.bitmap_distinct_by_group(b, ["g"], "v"))
        got = {r.g: r.n_distinct for r in
               sketches.bitmap_distinct_rollup(bm_inc, ["g"]).collect()}
        # g=1: {10, 11, 99999}; g=2: {10}; NULLs never counted
        assert got == {1: 3, 2: 1}
        direct = {r.g: r.n_distinct for r in sketches.bitmap_distinct_rollup(
            sketches.bitmap_distinct_by_group(a.union(b), ["g"], "v"),
            ["g"]).collect()}
        assert direct == got


class TestQuantization:
    def test_codes_bounded_and_error_within_half_scale(self, emb):
        q = similarity.quantize_embedding(F.col("embedding"), scale_out=True)
        df = emb.withColumn("_q", q).withColumn(
            "err", similarity.quantization_error(
                F.col("embedding"), F.col("_q.codes"), F.col("_q.scale")))
        bad = df.filter(
            (F.array_max(F.transform("_q.codes", F.abs)) > 127)
            | (F.col("err") > F.col("_q.scale") / 2 + 1e-9)).count()
        assert bad == 0
        assert df.schema["_q"].dataType["codes"].dataType.simpleString() \
            == "array<tinyint>"

    def test_zero_vector_quantizes_to_zeros(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>")
        q = similarity.quantize_embedding(F.col("embedding"), scale_out=True)
        r = df.select(q.alias("q")).first().q
        assert list(r.codes) == [0, 0, 0] and r.scale == 0.0


class TestSnapshotDiff:
    def test_classifies_added_removed_changed(self, spark):
        from spark_expectations_spark.operators.diff import snapshot_diff
        left = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
            ["id", "s", "v"])
        right = spark.createDataFrame(
            [(2, "b", 21), (3, "c", 30), (4, "d", 40), (5, "e", 50)],
            ["id", "s", "v"])
        got = {r.id: r for r in
               snapshot_diff(left, right, ["id"]).collect()}
        assert got[1].change_type == "removed"
        assert got[5].change_type == "added"
        assert got[2].change_type == "changed" and got[2].changed_cols == ["v"]
        # NULL -> value counts as a change (null-safe equality)
        assert got[4].change_type == "changed" and got[4].changed_cols == ["s"]
        assert 3 not in got  # identical rows excluded
        assert got[2].old_v == 20 and got[2].new_v == 21

    def test_compare_cols_subset(self, spark):
        from spark_expectations_spark.operators.diff import snapshot_diff
        left = spark.createDataFrame([(1, "a", 10)], ["id", "s", "v"])
        right = spark.createDataFrame([(1, "a", 99)], ["id", "s", "v"])
        assert snapshot_diff(left, right, ["id"],
                             compare_cols=["s"]).count() == 0


class TestSCD2:
    def test_intervals_merge_and_close(self, spark):
        from spark_expectations_spark.operators import scd
        obs = spark.createDataFrame(
            [(1, 10, "bronze"), (1, 20, "bronze"), (1, 30, "gold"),
             (1, 40, "gold"), (2, 15, None), (2, 25, "silver")],
            ["id", "t", "tier"])
        hist = scd.scd2_from_changes(obs, ["id"], "t", ["tier"]) \
            .orderBy("id", "valid_from").collect()
        assert [(r.id, r.tier, r.valid_from, r.valid_to, r.is_current)
                for r in hist] == [
            (1, "bronze", 10, 30, False),
            (1, "gold", 30, None, True),
            (2, None, 15, 25, False),       # NULL state opens an interval
            (2, "silver", 25, None, True),
        ]

    def test_point_in_time_slice(self, spark):
        from spark_expectations_spark.operators import scd
        obs = spark.createDataFrame(
            [(1, 10, "a"), (1, 30, "b")], ["id", "t", "s"])
        hist = scd.scd2_from_changes(obs, ["id"], "t", ["s"])
        at20 = scd.scd2_point_in_time(hist, 20).collect()
        assert len(at20) == 1 and at20[0].s == "a"
        at30 = scd.scd2_point_in_time(hist, 30).collect()
        assert len(at30) == 1 and at30[0].s == "b"

    def test_one_shuffle(self, spark):
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators import scd
        obs = spark.createDataFrame(
            [(1, 10, "a")], ["id", "t", "s"])
        hist = scd.scd2_from_changes(obs, ["id"], "t", ["s"])
        assert plans.num_shuffles(hist) == 1


class TestSCD2Property:
    @staticmethod
    def _brute(rows):
        """Reference SCD2: per key, order by (t, attr), merge equal-run
        states, close with next interval's start."""
        from collections import defaultdict
        by_key = defaultdict(list)
        for k, t, a in rows:
            by_key[k].append((t, a))
        expect = []
        for k, obs in by_key.items():
            obs.sort(key=lambda x: (x[0], (x[1] is None, x[1])))
            kept = []
            for t, a in obs:
                if not kept or kept[-1][1] != a:
                    kept.append((t, a))
            for i, (t, a) in enumerate(kept):
                nxt = kept[i + 1][0] if i + 1 < len(kept) else None
                expect.append((k, a, t, nxt, nxt is None))
        return sorted(expect, key=lambda r: (r[0], r[2], (r[1] is None, r[1])))

    def test_matches_bruteforce_on_random_logs(self, spark):
        import random

        from spark_expectations_spark.operators import scd
        rng = random.Random(42)
        for trial in range(4):
            rows = [(rng.randrange(6), rng.randrange(50),
                     rng.choice(["a", "b", "c", None]))
                    for _ in range(120)]
            # distinct (key, t): duplicate timestamps with different attrs
            # have engine-defined keep-order; dedup to the spec'd domain
            seen, uniq = set(), []
            for k, t, a in rows:
                if (k, t) not in seen:
                    seen.add((k, t))
                    uniq.append((k, t, a))
            df = spark.createDataFrame(uniq, ["id", "t", "s"])
            got = sorted(
                ((r.id, r.s, r.valid_from, r.valid_to, r.is_current)
                 for r in scd.scd2_from_changes(
                     df, ["id"], "t", ["s"]).collect()),
                key=lambda r: (r[0], r[2], (r[1] is None, r[1])))
            assert got == self._brute(uniq), f"trial {trial}"


class TestDrift:
    def test_identical_distributions_near_zero(self, spark):
        from spark_expectations_spark.operators import drift
        a = spark.range(0, 1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
        r = drift.psi(a, a, "v", lo=0, hi=100, bins=10).first()
        assert abs(r.psi) < 1e-9

    def test_shifted_distribution_flags(self, spark):
        from spark_expectations_spark.operators import drift
        a = spark.range(0, 1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
        b = spark.range(0, 1000).selectExpr(
            "CAST(id % 100 + 50 AS DOUBLE) AS v")  # half mass above hi
        r = drift.psi(a, b, "v", lo=0, hi=100, bins=10).first()
        assert r.psi > 0.25  # 'shifted' per the standard reading

    def test_out_of_range_mass_counted(self, spark):
        from spark_expectations_spark.operators import drift
        inside = spark.range(100).selectExpr("CAST(50 AS DOUBLE) AS v")
        outside = spark.range(100).selectExpr("CAST(999 AS DOUBLE) AS v")
        r = drift.psi(inside, outside, "v", lo=0, hi=100, bins=10).first()
        assert r.psi > 0.25 and r.n_buckets_compared == 2


class TestCategoricalDrift:
    def test_same_distribution_zero(self, spark):
        from spark_expectations_spark.operators import drift
        a = spark.range(300).selectExpr("CAST(id % 3 AS STRING) AS c")
        r = drift.categorical_psi(a, a, "c").first()
        assert abs(r.psi) < 1e-9 and r.n_categories_compared == 3

    def test_new_category_and_null_drift_flag(self, spark):
        from spark_expectations_spark.operators import drift
        a = spark.range(300).selectExpr("CAST(id % 3 AS STRING) AS c")
        b = spark.range(300).selectExpr(
            "CASE WHEN id % 2 = 0 THEN NULL ELSE 'zzz' END AS c")
        r = drift.categorical_psi(a, b, "c").first()
        assert r.psi > 0.25
        assert r.n_categories_compared == 5  # 0,1,2,__null__,zzz

    def test_chi2_zero_on_identical_grows_with_shift(self, spark):
        """chi² == 0 for identical distributions; a planted shift yields
        a statistic far above the χ²(dof) noise floor; dof = k − 1."""
        from spark_expectations_spark.operators import drift
        a = spark.range(600).selectExpr("CAST(id % 3 AS STRING) AS c")
        same = drift.chi2_categorical(a, a, "c").first()
        assert same["chi2"] == 0.0 and same["dof"] == 2
        assert same["n_baseline"] == 600 and same["n_current"] == 600
        b = spark.range(600).selectExpr(
            "CAST(CASE WHEN id % 2 = 0 THEN 0 ELSE id % 3 END AS STRING) AS c")
        shifted = drift.chi2_categorical(a, b, "c").first()
        assert shifted["chi2"] > 20  # χ²(2) 99.9th pct ≈ 13.8
        assert shifted["dof"] == 2

    def test_chi2_aligned_cut_no_phantom_drift(self, spark):
        """The top-N cut must come from the COMBINED counts: two samples
        of the SAME distribution with cardinality above top_n must give
        chi2 == 0, not a phantom shift from per-side fold disagreement."""
        from spark_expectations_spark.operators import drift
        a = spark.range(1000).selectExpr("CAST(id % 20 AS STRING) AS c")
        r = drift.chi2_categorical(a, a, "c", top_n=5).first()
        assert r["chi2"] == 0.0
        assert r["n_categories"] == 6  # top-5 + __other__

    def test_chi2_releases_its_cache(self, spark):
        """Round-5 ADVICE fix: chi2_categorical must not leak a
        persisted frame per call — the combined-counts cache is
        released before returning (collect-then-unpersist, like
        clustering_report)."""
        from spark_expectations_spark.operators import drift
        jsc = spark.sparkContext._jsc.sc()

        def persistent_ids():
            # compare by RDD id, not count: the async ContextCleaner may
            # evict OTHER tests' leaked frames mid-test (count would
            # flake); what matters is chi2 leaves no NEW entry behind
            it = jsc.getPersistentRDDs().keys().iterator()
            ids = set()
            while it.hasNext():
                ids.add(it.next())
            return ids

        before = persistent_ids()
        a = spark.range(500).selectExpr("CAST(id % 7 AS STRING) AS c")
        r = drift.chi2_categorical(a, a, "c").first()
        assert r["chi2"] == 0.0 and r["n_baseline"] == 500
        assert not (persistent_ids() - before)

    def test_tail_folds_into_other(self, spark):
        """Cardinality above top_n: the tail must collapse to __other__
        with its mass summed, not dropped."""
        from spark_expectations_spark.operators import drift
        # values 0..9, value k appears (10-k)*10 times -> top 3: 0,1,2
        a = spark.createDataFrame(
            [(str(k),) for k in range(10) for _ in range((10 - k) * 10)],
            "c string")
        props = {r.category: r.prop
                 for r in drift.category_proportions(a, "c", top_n=3).collect()}
        assert set(props) == {"0", "1", "2", "__other__"}
        total_rows = sum((10 - k) * 10 for k in range(10))  # 550
        assert abs(props["0"] - 100 / total_rows) < 1e-12
        assert abs(props["__other__"]
                   - sum((10 - k) * 10 for k in range(3, 10)) / total_rows) < 1e-12
        assert abs(sum(props.values()) - 1.0) < 1e-12

    def test_top_n_cut_is_take_ordered_not_global_window(self, spark):
        """Plan pin: the top-N cut compiles to TakeOrderedAndProject
        (per-partition partial top-N), with NO window operator — the
        unpartitioned row_number sort funneled every distinct category
        through a single task."""
        from spark_expectations_spark.operators import drift
        from spark_expectations_spark import plans
        a = spark.range(1000).selectExpr("CAST(id % 97 AS STRING) AS c")
        df = drift.category_proportions(a, "c", top_n=5)
        txt = plans.plan_text(df, "simple")
        assert "TakeOrderedAndProject" in txt
        assert "Window" not in txt


class TestKMeansRefine:
    def test_refinement_improves_objective(self, emb):
        init = similarity.train_centroids_df(emb, num_centroids=8)
        before = similarity.assignment_quality(emb, init)
        refined = similarity.kmeans_refine(emb, init, iters=2)
        after = similarity.assignment_quality(emb, refined)
        assert refined.count() <= 8
        assert after >= before - 1e-6, (before, after)
        assert after > before + 0.01  # hash-bucket init is far from optimal

    def test_centroid_schema_and_dim(self, emb):
        init = similarity.train_centroids_df(emb, num_centroids=4)
        refined = similarity.kmeans_refine(emb, init, iters=1)
        row = refined.first()
        dim = emb.select(F.size("embedding")).first()[0]
        assert len(row.centroid) == dim
        assert refined.schema["centroid"].dataType.simpleString() == \
            "array<float>"


class TestRelationshipProfiling:
    def test_key_candidates(self, spark):
        from spark_expectations_spark.operators.profiling import key_candidates
        df = spark.range(1000).selectExpr("id", "id % 10 AS cat")
        got = {r.column: r.candidate_key
               for r in key_candidates(df, ["id", "cat"]).collect()}
        assert got == {"id": True, "cat": False}

    def test_fk_containment_clean_and_broken(self, spark):
        from spark_expectations_spark.operators.profiling import fk_containment
        parent = spark.range(100).selectExpr("id AS pk")
        child = spark.range(200).selectExpr("id % 100 AS fk")
        clean = fk_containment(child, parent, "fk", "pk").first()
        assert clean.containment == 1.0 and clean.orphan_keys == 0
        broken = fk_containment(
            child, parent.filter("pk < 50"), "fk", "pk").first()
        assert broken.orphan_keys == 50
        assert abs(broken.containment - 0.5) < 1e-9


class TestQuantileDrift:
    def test_equal_mass_bins_on_skewed_column(self, spark):
        from spark_expectations_spark.operators import drift
        # lognormal-ish skew: fixed-width binning would put ~all mass in
        # bucket 1; quantile bins spread it
        skewed = spark.range(2000).selectExpr("exp(id % 7) AS v")
        edges = drift.quantile_edges(skewed, "v", bins=5)
        assert len(edges) == 4 and edges == sorted(edges)
        same = drift.psi_with_edges(skewed, skewed, "v", edges).first()
        assert abs(same.psi) < 1e-9
        shifted = skewed.selectExpr("v * 100 AS v")
        moved = drift.psi_with_edges(skewed, shifted, "v", edges).first()
        assert moved.psi > 0.25


class TestWeightedSampling:
    def test_inclusion_tracks_weight_and_is_partition_invariant(self, spark):
        from spark_expectations_spark.operators.sampling import (
            weighted_deterministic_sample,
        )
        df = spark.range(4000).selectExpr(
            "id", "CASE WHEN id % 2 = 0 THEN 3.0 ELSE 1.0 END AS w")
        kept = weighted_deterministic_sample(
            df, "id", "w", expected_fraction=0.2, max_weight=3.0)
        heavy = kept.filter("w = 3.0").count()
        light = kept.filter("w = 1.0").count()
        # heavy rows 3x more likely; allow sampling noise
        assert 2.0 < heavy / max(light, 1) < 4.5, (heavy, light)
        total_frac = kept.count() / 4000
        assert 0.15 < total_frac < 0.25
        again = weighted_deterministic_sample(
            df.repartition(7), "id", "w",
            expected_fraction=0.2, max_weight=3.0)
        assert sorted(r.id for r in kept.collect()) == \
            sorted(r.id for r in again.collect())

    def test_bad_args(self, spark):
        from spark_expectations_spark.operators.sampling import (
            weighted_deterministic_sample,
        )
        df = spark.range(10).selectExpr("id", "1.0 AS w")
        with pytest.raises(ValueError):
            weighted_deterministic_sample(df, "id", "w",
                                          expected_fraction=0.0, max_weight=1)
        with pytest.raises(ValueError):
            weighted_deterministic_sample(df, "id", "w",
                                          expected_fraction=0.5, max_weight=0)


class TestUnigramLM:
    def test_rare_token_doc_scores_lower(self, spark):
        common = "the cat sat on the mat " * 10
        df = spark.createDataFrame(
            [(1, common), (2, common), (3, common),
             (4, "zyxgibberish qwertyraresmush blorptok unseenish")],
            ["doc_id", "text"])
        got = {r.doc_id: r.avg_logprob
               for r in text.unigram_logprob(df, "doc_id", "text").collect()}
        assert got[4] < got[1]  # rare-vocab doc is less probable
        assert got[1] == got[2] == got[3]

    def test_token_counts(self, spark):
        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        r = text.unigram_logprob(df, "doc_id", "text").first()
        assert r.n_tokens == 3


class TestTrainingShards:
    def test_shards_balanced_deterministic_and_complete(self, docs, tmp_path):
        from spark_expectations_spark.operators.packing import (
            write_training_shards,
        )
        path = str(tmp_path / "shards")
        manifest = write_training_shards(
            docs, path, n_shards=8, key_col="doc_id").collect()
        total = sum(r.n_rows for r in manifest)
        assert total == docs.count()
        assert len(manifest) == 8
        sizes = [r.n_rows for r in manifest]
        assert max(sizes) < 2.5 * min(sizes)  # hash-balanced
        # deterministic membership: rewrite reproduces identical shards
        spark = docs.sparkSession
        first = {(r.shard_id, r.doc_id) for r in
                 spark.read.parquet(path).select("shard_id", "doc_id").collect()}
        write_training_shards(docs, path, n_shards=8, key_col="doc_id")
        second = {(r.shard_id, r.doc_id) for r in
                  spark.read.parquet(path).select("shard_id", "doc_id").collect()}
        assert first == second

    def test_bad_args(self, docs, tmp_path):
        from spark_expectations_spark.operators.packing import (
            write_training_shards,
        )
        with pytest.raises(ValueError):
            write_training_shards(docs, str(tmp_path), n_shards=0,
                                  key_col="doc_id")


class TestPackingHugeOffsets:
    def test_exact_past_double_precision(self, spark):
        """Offsets beyond 2^53: float floor(x/y) would misplace packs;
        the div-based long math must stay exact."""
        big = 1 << 54  # 18 petatokens per row — offsets leave double range
        df = spark.createDataFrame(
            [(i, big) for i in range(6)], ["id", "w"])
        from spark_expectations_spark.operators.packing import (
            pack_for_training,
        )
        rows = pack_for_training(df, "id", "w", budget=big + 1,
                                 n_streams=1).collect()
        got = {r.id: (r.pack_id, r.pack_offset)
               for r in rows}
        run = 0
        for i in sorted(got):
            assert got[i] == (run // (big + 1), run % (big + 1)), (i, got[i])
            run += big


class TestStripCommonLines:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "COOKIE BANNER\nreal prose one\nFOOTER"),
             (2, "COOKIE BANNER\nother words here\nFOOTER"),
             (3, "COOKIE BANNER\nunique text three\nFOOTER"),
             (4, "completely original document")],
            "id int, text string")

    def test_removes_shared_lines_keeps_order(self, spark):
        out = text.strip_common_lines(
            self._df(spark), "id", "text", min_df=3)
        got = {r["id"]: r["clean_text"] for r in out.collect()}
        assert got[1] == "real prose one"
        assert got[2] == "other words here"
        assert got[3] == "unique text three"
        assert got[4] == "completely original document"

    def test_frac_threshold_and_all_boilerplate_doc(self, spark):
        df = spark.createDataFrame(
            [(1, "a\nb"), (2, "a\nc"), (3, "a"), (4, "a")],
            "id int, text string")
        out = text.strip_common_lines(df, "id", "text", min_df_frac=0.75)
        got = {r["id"]: r["clean_text"] for r in out.collect()}
        # "a" is in 4/4 docs -> removed everywhere; docs 3/4 become empty
        assert got == {1: "b", 2: "c", 3: "", 4: ""}

    def test_threshold_args_exclusive(self, spark):
        df = self._df(spark)
        with pytest.raises(ValueError):
            text.strip_common_lines(df, "id", "text")
        with pytest.raises(ValueError):
            text.strip_common_lines(df, "id", "text",
                                    min_df=2, min_df_frac=0.5)

    def test_within_doc_repeats_need_distinct_docs(self, spark):
        # a line repeated 3x inside ONE doc must not count as df=3
        df = spark.createDataFrame(
            [(1, "x\nx\nx"), (2, "y")], "id int, text string")
        out = text.strip_common_lines(df, "id", "text", min_df=3)
        got = {r["id"]: r["clean_text"] for r in out.collect()}
        assert got == {1: "x\nx\nx", 2: "y"}


class TestPercentileGate:
    def test_median_gate_above(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("a", i) for i in (1, 2, 3, 4, 5)] +
            [("b", i) for i in (10, 20, 30)],
            "g string, s int")
        out = sampling.percentile_gate(df, "g", "s", q=0.5)
        got = sorted((r["g"], r["s"]) for r in out.collect())
        assert got == [("a", 3), ("a", 4), ("a", 5), ("b", 20), ("b", 30)]

    def test_below_and_interpolated_threshold(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("a", 3), ("a", 4)], "g string, s int")
        # q=0.5 over 4 values interpolates to 2.5: "below" keeps {1, 2}
        out = sampling.percentile_gate(df, "g", "s", q=0.5, keep="below")
        assert sorted(r["s"] for r in out.collect()) == [1, 2]

    def test_bad_keep_rejected(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([("a", 1)], "g string, s int")
        with pytest.raises(ValueError):
            sampling.percentile_gate(df, "g", "s", keep="middle")


class TestCollocations:
    def test_pmi_ranks_exclusive_pair_first(self, spark):
        """'alpha beta' always co-occur and never appear elsewhere →
        maximal PMI; 'x y' occur together but both words are common
        elsewhere → lower PMI; min_count cuts singletons."""
        rows = [(i, "alpha beta") for i in range(5)]
        rows += [(100 + i, "x y") for i in range(5)]
        rows += [(200 + i, "x q y r") for i in range(10)]
        rows += [(300, "rare once")]
        df = spark.createDataFrame(rows, "id long, text string")
        got = text.top_collocations(df, "text", top_k=10, min_count=5).collect()
        assert got[0]["w1"] == "alpha" and got[0]["w2"] == "beta"
        pmis = {(r["w1"], r["w2"]): r["pmi"] for r in got}
        assert pmis[("alpha", "beta")] > pmis[("x", "y")]
        assert ("rare", "once") not in pmis  # min_count cut


class TestLineStats:
    def test_multiline_fractions(self, spark):
        """The synthetic corpus is single-line, so the interesting paths
        are pinned here: dup lines, terminal punctuation (incl. closing
        quote), bullets, blank-line removal."""
        doc = "Real prose ends here.\n- a bullet\n- a bullet\n\nshe said \"Stop.\"\nno punct"
        df = spark.createDataFrame([(1, doc), (2, "one line")],
                                   "id long, text string")
        got = {r["id"]: r for r in text.line_stats(df, "id", "text").collect()}
        r = got[1]
        # 5 non-blank lines; '- a bullet' repeated once
        assert r["n_lines"] == 5
        assert r["dup_line_frac"] == 0.2
        # terminal: 'Real prose ends here.' and 'she said "Stop."'
        assert r["terminal_punct_frac"] == 0.4
        assert r["bullet_frac"] == 0.4
        assert got[2]["n_lines"] == 1 and got[2]["dup_line_frac"] == 0.0

    def test_crlf_lines_normalized(self, spark):
        """CRLF documents: the trailing \\r must not defeat dup-line
        detection, pad mean_line_len, or hide terminal punctuation."""
        df = spark.createDataFrame(
            [(1, "a line.\r\na line.\r\nother\r\n")], "id long, text string")
        r = text.line_stats(df, "id", "text").first()
        assert r["n_lines"] == 3
        assert r["dup_line_frac"] == round(1 / 3, 4)
        assert r["terminal_punct_frac"] == round(2 / 3, 4)
        assert r["mean_line_len"] == round((7 + 7 + 5) / 3, 4)


class TestVocabEncode:
    def test_vocab_ids_and_encoding(self, spark):
        """Ids: specials first, then (count desc, token asc); encoding
        preserves order and maps OOV to unk_id."""
        df = spark.createDataFrame(
            [(1, "b a a"), (2, "c a b"), (3, "")], "id long, text string")
        vocab = text.build_vocab(df, "text")
        got = {r["token"]: (r["token_id"], r["count"])
               for r in vocab.collect()}
        assert got == {"<unk>": (0, 0), "a": (1, 3), "b": (2, 2),
                       "c": (3, 1)}
        enc = {r["id"]: (r["n_tokens"], r["token_ids"])
               for r in text.encode_tokens(df, vocab, "id", "text").collect()}
        assert enc[1] == (3, [2, 1, 1])
        assert enc[2] == (3, [3, 1, 2])
        assert enc[3] == (0, [])

    def test_max_size_cut_maps_tail_to_unk(self, spark):
        df = spark.createDataFrame(
            [(1, "b a a"), (2, "c a b")], "id long, text string")
        vocab = text.build_vocab(df, "text", max_size=3)  # room for a, b
        assert {r["token"] for r in vocab.collect()} == {"<unk>", "a", "b"}
        enc = {r["id"]: r["token_ids"]
               for r in text.encode_tokens(df, vocab, "id", "text").collect()}
        assert enc[2] == [0, 1, 2]  # c fell out of the vocab

    def test_max_size_must_fit_specials(self, spark):
        df = spark.createDataFrame([(1, "a")], "id long, text string")
        with pytest.raises(ValueError):
            text.build_vocab(df, "text", max_size=1)

    def test_literal_special_in_corpus_stays_reserved(self, spark):
        """A document containing the literal token '<unk>' must not
        create a second vocab entry (which would fan out the encode
        join and corrupt sequence lengths)."""
        df = spark.createDataFrame(
            [(1, "foo <unk> bar"), (2, "foo foo")], "id long, text string")
        vocab = text.build_vocab(df, "text")
        rows = vocab.filter(F.col("token") == "<unk>").collect()
        assert len(rows) == 1 and rows[0]["token_id"] == 0
        enc = {r["id"]: (r["n_tokens"], r["token_ids"])
               for r in text.encode_tokens(df, vocab, "id", "text").collect()}
        assert enc[1][0] == 3          # not duplicated to 4
        assert enc[1][1][1] == 0       # the literal '<unk>' encodes to unk_id


class TestTemperatureResample:
    def test_alpha_half_flattens_head(self, spark):
        """900-vs-100 corpus at alpha=0.5: the binding source is the big
        one, the small source keeps a HIGHER fraction — shares move from
        9:1 toward sqrt ratio 3:1 — and the small side stays complete
        (quota ratio realized at max feasible total means the non-binding
        small source is never cut harder than the target share)."""
        from spark_expectations_spark.operators import sampling
        rows = [(i, "big") for i in range(900)] + \
               [(1000 + i, "small") for i in range(100)]
        df = spark.createDataFrame(rows, "k long, source string")
        kept = sampling.temperature_resample(df, "k", "source", alpha=0.5)
        by = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
        frac_big, frac_small = by["big"] / 900, by["small"] / 100
        assert frac_small > frac_big
        ratio = by["big"] / by["small"]
        assert 2.5 < ratio < 3.5  # ~sqrt(900)/sqrt(100) = 3

    def test_alpha_one_is_identity_up_to_floor(self, spark):
        from spark_expectations_spark.operators import sampling
        rows = [(i, "a") for i in range(50)] + [(100 + i, "b") for i in range(25)]
        df = spark.createDataFrame(rows, "k long, source string")
        kept = sampling.temperature_resample(df, "k", "source", alpha=1.0)
        assert kept.count() >= 73  # floors may shave at most ~1 per source

    def test_alpha_validated(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([(1, "a")], "k long, source string")
        with pytest.raises(ValueError):
            sampling.temperature_resample(df, "k", "source", alpha=0)


class TestSplitByTime:
    def test_three_way_split_with_embargo(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([(i,) for i in range(100)], "ts long")
        got = {r["ts"]: r["split"] for r in
               sampling.split_by_time(df, "ts", 80, embargo=10).collect()}
        assert got[69] == "train" and got[70] == "embargo"
        assert got[79] == "embargo" and got[80] == "test"

    def test_zero_embargo_two_way(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([(i,) for i in range(10)], "ts long")
        labels = {r["split"] for r in
                  sampling.split_by_time(df, "ts", 5).collect()}
        assert labels == {"train", "test"}


class TestCorrelationMatrix:
    def test_known_correlations(self, spark):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame(
            [(float(i), 2.0 * i, float(-i), float(i % 2)) for i in range(50)],
            "a double, b double, c double, d double")
        got = {(r["col_a"], r["col_b"]): r["corr"]
               for r in profiling.correlation_matrix(
                   df, ["a", "b", "c"]).collect()}
        assert abs(got[("a", "b")] - 1.0) < 1e-12
        assert abs(got[("a", "c")] + 1.0) < 1e-12
        assert abs(got[("b", "c")] + 1.0) < 1e-12
        with pytest.raises(ValueError):
            profiling.correlation_matrix(df, ["a"])


class TestEpochShuffle:
    def test_partition_invariant_and_complete(self, spark):
        """Addresses are a pure function of (seed, id): identical under
        repartitioning; positions are contiguous 0..n_i-1 per shard."""
        from spark_expectations_spark.operators import sampling
        df = spark.range(0, 200).withColumnRenamed("id", "k")
        a = {(r["k"]): (r["shard"], r["pos"])
             for r in sampling.epoch_shuffle(df, "k", seed=3,
                                             num_shards=4).collect()}
        b = {(r["k"]): (r["shard"], r["pos"])
             for r in sampling.epoch_shuffle(df.repartition(13), "k", seed=3,
                                             num_shards=4).collect()}
        assert a == b and len(a) == 200
        by_shard = {}
        for shard, pos in a.values():
            by_shard.setdefault(shard, []).append(pos)
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(len(poss)))

    def test_seed_changes_permutation(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.range(0, 100).withColumnRenamed("id", "k")
        a = {r["k"]: (r["shard"], r["pos"])
             for r in sampling.epoch_shuffle(df, "k", seed=0).collect()}
        b = {r["k"]: (r["shard"], r["pos"])
             for r in sampling.epoch_shuffle(df, "k", seed=1).collect()}
        assert a != b

    def test_shard_entropy_beyond_16_bits(self, spark):
        """num_shards above 65536 must actually be reachable (4 hex
        chars of md5 would silently cap the shard id at 65535); shard
        ids match the 32-bit reference computed with hashlib."""
        import hashlib
        from spark_expectations_spark.operators import sampling
        n = 1_000_000
        df = spark.range(0, 300).withColumnRenamed("id", "k")
        got = {r["k"]: r["shard"]
               for r in sampling.epoch_shuffle(df, "k", seed=2,
                                               num_shards=n).collect()}
        expect = {k: int(hashlib.md5(f"2:{k}".encode()).hexdigest()[:8], 16) % n
                  for k in range(300)}
        assert got == expect
        assert any(s > 65535 for s in got.values())


class TestQuantileBuckets:
    def test_quartile_labels_and_boundary(self, spark):
        """8 scores per group: q25=2.75, q75=6.25 for 1..8. A score
        exactly at a threshold takes the UPPER bucket (>= comparison);
        groups get independent thresholds."""
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("a", i) for i in range(1, 9)] + [("b", 100), ("b", 200)],
            "g string, s int")
        out = sampling.quantile_buckets(df, "g", "s")
        got = {(r["g"], r["s"]): r["bucket"] for r in out.collect()}
        assert got[("a", 1)] == "tail" and got[("a", 2)] == "tail"
        assert got[("a", 3)] == "middle" and got[("a", 6)] == "middle"
        assert got[("a", 7)] == "head" and got[("a", 8)] == "head"
        # b: q25=125, q75=175 → 100 tail, 200 head
        assert got[("b", 100)] == "tail" and got[("b", 200)] == "head"
        # exact-boundary: 5 values 0,25,50,75,100 → q75 == 75 → 'head'
        df2 = spark.createDataFrame(
            [("c", v) for v in (0, 25, 50, 75, 100)], "g string, s int")
        got2 = {r["s"]: r["bucket"]
                for r in sampling.quantile_buckets(df2, "g", "s").collect()}
        assert got2[75] == "head" and got2[25] == "middle"

    def test_label_arity_validated(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([("a", 1)], "g string, s int")
        with pytest.raises(ValueError):
            sampling.quantile_buckets(df, "g", "s", qs=(0.5,),
                                      labels=("x", "y", "z"))
        with pytest.raises(ValueError):
            sampling.quantile_buckets(df, "g", "s", qs=(0.75, 0.25),
                                      labels=("x", "y", "z"))


class TestHashedLinearScore:
    def test_known_weights(self, spark):
        import math
        from spark_expectations_spark.operators.dedup import hash48_md5
        df = spark.createDataFrame([(1, "aa bb"), (2, "aa"), (3, "")],
                                   "id int, text string")
        dim = 16
        toks = spark.createDataFrame([("aa",), ("bb",)], "t string")
        bmap = {r["t"]: r["b"] for r in toks.select(
            "t", (hash48_md5(F.col("t")) % dim).cast("int").alias("b")
        ).collect()}
        weights = spark.createDataFrame(
            [(bmap["aa"], 0.4), (bmap["bb"], -0.2)], "bucket int, weight double")
        out = text.hashed_linear_score(df, "id", "text", weights, dim=dim)
        got = {r["id"]: r["score"] for r in out.collect()}
        sig = lambda x: 1.0 / (1.0 + math.exp(-x))
        assert got[1] == pytest.approx(sig((0.4 - 0.2) / 2))
        assert got[2] == pytest.approx(sig(0.4))
        assert got[3] == pytest.approx(sig(0.0))  # empty doc -> bias only

    def test_unseen_tokens_zero_weight_and_bias(self, spark):
        import math
        df = spark.createDataFrame([(1, "zz yy")], "id int, text string")
        weights = spark.createDataFrame([], "bucket int, weight double")
        out = text.hashed_linear_score(df, "id", "text", weights,
                                       dim=8, bias=1.5)
        assert out.first()["score"] == pytest.approx(
            1.0 / (1.0 + math.exp(-1.5)))


class TestLogisticTrain:
    FIX = [(1, "good clean prose text here", 1),
           (2, "good solid useful text", 1),
           (3, "spam spam junk junk junk", 0),
           (4, "junk noise spam garbage", 0),
           (5, "good text about spam filters", 1),
           (6, "noise noise garbage junk spam", 0),
           (7, "clean useful prose", 1),
           (8, "garbage", 0)]

    def _fit(self, spark, dim=16, iterations=4, lr=2.0):
        df = spark.createDataFrame(self.FIX, "id int, text string, y int")
        return text.logistic_train(df, "id", "text", "y", dim=dim,
                                   iterations=iterations, lr=lr)

    def test_numpy_full_batch_differential(self, spark):
        import hashlib
        import math
        import re

        dim, iters, lr = 16, 4, 2.0
        fit = {r["bucket"]: r for r in self._fit(spark).collect()}
        # driver-side replay of the exact arithmetic
        X, Y = [], []
        for _, txt, y in self.FIX:
            toks = [t for t in re.split(r"\s+", txt.strip().lower()) if t]
            if not toks:
                continue
            v = [0.0] * dim
            for t in toks:
                j = int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % dim
                v[j] += 1.0 / len(toks)
            X.append(v)
            Y.append(float(y))
        w, b = [0.0] * dim, 0.0
        losses = []
        for _ in range(iters):
            p = [1.0 / (1.0 + math.exp(-(sum(x * wj for x, wj in zip(xi, w))
                                         + b))) for xi in X]
            losses.append(sum(-(y * math.log(pi) + (1 - y) * math.log(1 - pi))
                              for pi, y in zip(p, Y)) / len(X))
            r = [pi - y for pi, y in zip(p, Y)]
            for j in range(dim):
                w[j] -= lr * sum(ri * xi[j] for ri, xi in zip(r, X)) / len(X)
            b -= lr * sum(r) / len(X)
        for j in range(dim):
            assert fit[j]["weight"] == pytest.approx(w[j], abs=1e-12)
        row = fit[0]
        assert row["bias"] == pytest.approx(b, abs=1e-12)
        assert row["n_train"] == len(X)
        assert list(row["losses"]) == pytest.approx(losses, abs=1e-12)

    def test_loss_ladder_starts_at_ln2_and_descends(self, spark):
        import math
        losses = list(self._fit(spark).first()["losses"])
        assert losses[0] == pytest.approx(math.log(2.0))
        assert all(a > b for a, b in zip(losses, losses[1:]))

    def test_token_free_docs_excluded(self, spark):
        df = spark.createDataFrame(
            self.FIX + [(9, "   ", 1), (10, None, 0)],
            "id int, text string, y int")
        fit = text.logistic_train(df, "id", "text", "y", dim=16,
                                  iterations=1, lr=1.0)
        assert fit.first()["n_train"] == len(self.FIX)

    def test_guards(self, spark):
        df = spark.createDataFrame(self.FIX, "id int, text string, y int")
        with pytest.raises(ValueError, match="dim"):
            text.logistic_train(df, "id", "text", "y",
                                dim=text.LOGISTIC_TRAIN_MAX_DIM + 1)
        with pytest.raises(ValueError, match="iterations"):
            text.logistic_train(df, "id", "text", "y", dim=8, iterations=0)
        empty = spark.createDataFrame([(1, "", 1)], "id int, text string, y int")
        with pytest.raises(ValueError, match="no documents"):
            text.logistic_train(empty, "id", "text", "y", dim=8)

    def test_warm_start_continuation_is_exact(self, spark):
        """train(4) == train(2) warm-started 2 more steps, weight for
        weight — full-batch GD is Markov in (w, bias), so persisted
        weights resume training with zero drift."""
        df = spark.createDataFrame(self.FIX, "id int, text string, y int")
        straight = text.logistic_train(df, "id", "text", "y", dim=16,
                                       iterations=4, lr=2.0)
        half = text.logistic_train(df, "id", "text", "y", dim=16,
                                   iterations=2, lr=2.0)
        resumed = text.logistic_train(df, "id", "text", "y", dim=16,
                                      iterations=2, lr=2.0, init=half)
        a = {r["bucket"]: r for r in straight.collect()}
        b = {r["bucket"]: r for r in resumed.collect()}
        for j in range(16):
            assert a[j]["weight"] == b[j]["weight"], j
        assert a[0]["bias"] == b[0]["bias"]
        # resumed losses are the ladder's back half
        assert list(b[0]["losses"]) == pytest.approx(
            list(a[0]["losses"])[2:])

    def test_l2_shrinks_weights_and_paths_agree(self, spark):
        """Ridge: every weight shrinks vs the unpenalized fit (ties at
        exactly-zero buckets), the distributed path reproduces the
        literal one at the same l2, and a driver-side replay of the
        penalized update matches exactly."""
        df = spark.createDataFrame(self.FIX, "id int, text string, y int")
        plain = {r["bucket"]: r["weight"] for r in text.logistic_train(
            df, "id", "text", "y", dim=16, iterations=3, lr=2.0).collect()}
        ridge = {r["bucket"]: r["weight"] for r in text.logistic_train(
            df, "id", "text", "y", dim=16, iterations=3, lr=2.0,
            l2=0.1).collect()}
        assert sum(v * v for v in ridge.values()) < \
            sum(v * v for v in plain.values())
        dist = {r["bucket"]: r["weight"]
                for r in text.logistic_train_distributed(
                    df, "id", "text", "y", dim=16, iterations=3,
                    lr=2.0, l2=0.1).collect()}
        for j, v in dist.items():
            assert ridge[j] == pytest.approx(v, abs=1e-12), j

    def test_warm_start_dim_mismatch_raises(self, spark):
        df = spark.createDataFrame(self.FIX, "id int, text string, y int")
        fit = text.logistic_train(df, "id", "text", "y", dim=32,
                                  iterations=1, lr=1.0)
        with pytest.raises(ValueError, match="different dim"):
            text.logistic_train(df, "id", "text", "y", dim=16,
                                iterations=1, lr=1.0, init=fit)

    def test_weights_feed_score_path(self, spark):
        # the trained model separates the fixture through the existing
        # inference operator — train and score stay one surface
        fit = self._fit(spark, iterations=8, lr=4.0)
        df = spark.createDataFrame(self.FIX, "id int, text string, y int")
        scored = text.hashed_linear_score(
            df, "id", "text", fit.select("bucket", "weight"), dim=16,
            bias=fit.first()["bias"])
        rows = {r["id"]: r["score"] for r in scored.collect()}
        pos = [rows[i] for i, _, y in self.FIX if y == 1]
        neg = [rows[i] for i, _, y in self.FIX if y == 0]
        assert min(pos) > max(neg)


class TestLogisticTrainDistributed:
    def test_matches_literal_path(self, spark):
        """The DataFrame-model-state loop must reproduce the literal
        path's fit to float-summation noise — same arithmetic, only
        the z/gradient summation ORDER differs."""
        df = spark.createDataFrame(TestLogisticTrain.FIX,
                                   "id int, text string, y int")
        lit = text.logistic_train(df, "id", "text", "y", dim=16,
                                  iterations=3, lr=2.0)
        dist = text.logistic_train_distributed(df, "id", "text", "y",
                                               dim=16, iterations=3,
                                               lr=2.0)
        a = {r["bucket"]: r["weight"] for r in lit.collect()}
        b = {r["bucket"]: r["weight"] for r in dist.collect()}
        # sparse contract: only touched buckets appear, none unknown
        assert set(b) <= set(a)
        for j in a:
            assert a[j] == pytest.approx(b.get(j, 0.0), abs=1e-12), j
        la, lb = lit.first(), dist.first()
        assert la["bias"] == pytest.approx(lb["bias"], abs=1e-12)
        assert la["n_train"] == lb["n_train"]
        assert list(la["losses"]) == pytest.approx(
            list(lb["losses"]), abs=1e-12)
        # untouched buckets on the literal side are exactly zero
        assert all(a[j] == 0.0 for j in set(a) - set(b))

    def test_guards(self, spark):
        df = spark.createDataFrame([(1, "", 1)], "id int, text string, y int")
        with pytest.raises(ValueError, match="no documents"):
            text.logistic_train_distributed(df, "id", "text", "y", dim=8)
        df2 = spark.createDataFrame([(1, "x", 1)], "id int, text string, y int")
        with pytest.raises(ValueError, match="iterations"):
            text.logistic_train_distributed(df2, "id", "text", "y",
                                            dim=8, iterations=0)


class TestVocabDivergence:
    def test_hand_computed_kl_and_oov(self, spark):
        import math
        base = spark.createDataFrame([(1, "a a b")], "id int, text string")
        cur = spark.createDataFrame([(2, "a c")], "id int, text string")
        row = text.vocab_divergence(base, cur, "text").first()
        # union vocab {a, b, c}: cb = (2, 1, 0), cc = (1, 0, 1)
        assert row["n_base"] == 3 and row["n_cur"] == 2
        assert row["v_union"] == 3 and row["new_types"] == 1
        assert row["oov_rate"] == pytest.approx(0.5)  # token 'c' mass
        nb, nc, v, a = 3, 2, 3, 0.5
        p = [(c + a) / (nb + a * v) for c in (2, 1, 0)]
        q = [(c + a) / (nc + a * v) for c in (1, 0, 1)]
        kl_bc = sum(pi * math.log(pi / qi) for pi, qi in zip(p, q))
        kl_cb = sum(qi * math.log(qi / pi) for pi, qi in zip(p, q))
        assert row["kl_base_cur"] == pytest.approx(kl_bc, abs=1e-6)
        assert row["kl_cur_base"] == pytest.approx(kl_cb, abs=1e-6)

    def test_identical_corpora_zero_divergence(self, spark):
        df = spark.createDataFrame([(1, "x y z x")], "id int, text string")
        row = text.vocab_divergence(df, df, "text").first()
        assert row["kl_base_cur"] == 0.0 and row["kl_cur_base"] == 0.0
        assert row["new_types"] == 0 and row["oov_rate"] == 0.0

    def test_alpha_guard(self, spark):
        df = spark.createDataFrame([(1, "x")], "id int, text string")
        with pytest.raises(ValueError, match="alpha"):
            text.vocab_divergence(df, df, "text", alpha=0.0)

    def test_empty_current_side_defined_degeneration(self, spark):
        """ADVICE r13: an empty cur side must yield a DELIBERATE NULL
        oov_rate (rate over zero tokens is undefined) with both KL
        columns still finite; empty BOTH sides yields an empty frame,
        not a NULL row."""
        base = spark.createDataFrame([(1, "a a b")], "id int, text string")
        empty = spark.createDataFrame([], "id int, text string")
        row = text.vocab_divergence(base, empty, "text").first()
        assert row["n_cur"] == 0 and row["oov_rate"] is None
        assert row["kl_base_cur"] is not None
        assert row["kl_cur_base"] is not None
        assert text.vocab_divergence(empty, empty, "text").count() == 0


class TestLeakageSafeKfold:
    def test_zero_cross_fold_pairs_and_singletons(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([(i,) for i in range(40)], "id int")
        # chain 0-1-2, pair 10-11, the rest singletons
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (10, 11)], "id_a int, id_b int")
        out = sampling.leakage_safe_kfold(df, pairs, "id", 4)
        fold = {r["id"]: r["fold"] for r in out.collect()}
        assert fold[0] == fold[1] == fold[2]
        assert fold[10] == fold[11]
        assert len(fold) == 40 and all(0 <= f < 4 for f in fold.values())
        # singleton folds follow with_kfold keyed by own id
        naive = {r["id"]: r["fold"] for r in sampling.with_kfold(
            df, "id", 4).collect()}
        for i in (5, 20, 39):
            assert fold[i] == naive[i]


class TestLogisticCv:
    def test_fold_complement_matches_logistic_train(self, spark):
        """Fold f's CV row must equal a standalone logistic_train on
        the complement folds plus a manual val-loss eval — the CV loop
        is composition, not new arithmetic."""
        import hashlib
        import math

        rows = TestLogisticTrain.FIX * 3  # 24 rows, distinct ids
        rows = [(i, t, y) for i, (_, t, y) in enumerate(rows)]
        df = spark.createDataFrame(rows, "id int, text string, y int")
        cv = {r["fold"]: r for r in text.logistic_cv(
            df, "id", "text", "y", dim=16, iterations=2, lr=2.0,
            k=3, salt="s").collect()}
        fold = {i: int(hashlib.md5(f"s|{i}".encode()).hexdigest()[:8],
                       16) % 3 for i, _, _ in rows}
        f = 0
        train = df.filter(F.col("id").isin(
            [i for i in fold if fold[i] != f]))
        fit = text.logistic_train(train, "id", "text", "y", dim=16,
                                  iterations=2, lr=2.0)
        frow = fit.first()
        assert cv[f]["n_train"] == frow["n_train"]
        assert cv[f]["train_loss_start"] == pytest.approx(
            frow["losses"][0])
        assert cv[f]["train_loss_end"] == pytest.approx(
            frow["losses"][-1])
        # manual holdout eval with the trained weights
        val = df.filter(F.col("id").isin(
            [i for i in fold if fold[i] == f]))
        scored = text.hashed_linear_score(
            val, "id", "text", fit.select("bucket", "weight"),
            dim=16, bias=frow["bias"])
        vl = scored.withColumn("y", F.col("y").cast("double")).agg(
            F.avg(-(F.col("y") * F.log("score")
                    + (1 - F.col("y"))
                    * F.log(1 - F.col("score"))))).first()[0]
        assert cv[f]["val_loss"] == pytest.approx(vl)
        assert cv[f]["n_val"] == val.count()
        assert math.isclose(cv[f]["train_loss_start"], math.log(2.0))

    def test_too_few_docs_for_k_raises(self, spark):
        df = spark.createDataFrame([(1, "one doc", 1)],
                                   "id int, text string, y int")
        with pytest.raises(ValueError, match="folds"):
            text.logistic_cv(df, "id", "text", "y", dim=8, k=3)


class TestRecallAtK:
    def test_partial_and_zero_overlap(self, spark):
        exact = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 20), (2, 21)],
            "query_id int, neighbor_id int")
        approx = spark.createDataFrame(
            [(1, 10), (1, 99), (2, 98), (2, 99)],
            "query_id int, neighbor_id int")
        out = similarity.recall_at_k(exact, approx)
        got = {r["query_id"]: (r["n_exact"], r["n_matched"], r["recall"])
               for r in out.collect()}
        assert got[1] == (2, 1, 0.5)
        assert got[2] == (2, 0, 0.0)  # zero-hit query still present


class TestContainmentPairs:
    def test_subset_inclusion_found_where_jaccard_misses(self, spark):
        short = "alpha beta gamma delta"
        long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
        df = spark.createDataFrame([(1, short), (2, long)], "id int, text string")
        cont = dedup.containment_pairs(df, "id", "text", n=3, threshold=0.9)
        rows = cont.collect()
        assert len(rows) == 1 and rows[0]["containment"] == 1.0
        # symmetric jaccard stays tiny for the same pair
        jac = dedup.jaccard_pairs(df, "id", "text", n=3, threshold=0.5)
        assert jac.count() == 0

    def test_threshold_filters(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c x y"), (3, "p q r s t")],
            "id int, text string")
        # docs 1/2 share shingle "a b c" only: containment 1/3
        assert dedup.containment_pairs(
            df, "id", "text", n=3, threshold=0.5).count() == 0
        got = dedup.containment_pairs(
            df, "id", "text", n=3, threshold=0.3).collect()
        assert len(got) == 1 and got[0]["id_a"] == 1 and got[0]["id_b"] == 2

    def test_jaccard_unchanged_by_refactor(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e g"), (3, "z z2 z3 z4")],
            "id int, text string")
        rows = dedup.jaccard_pairs(df, "id", "text", n=3, threshold=0.3).collect()
        assert len(rows) == 1
        # 4 shingles each, 3 common -> jaccard 3/5
        assert rows[0]["jaccard"] == pytest.approx(0.6)


class TestSimilarityPairs:
    def test_union_parity_with_single_signal_operators(self, docs, spark):
        """similarity_pairs == jaccard_pairs ∪ containment_pairs on the
        pair-id level, from one shingle pass instead of two."""
        from spark_expectations_spark.operators import dedup
        jac = {(r["id_a"], r["id_b"]) for r in dedup.jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.15).collect()}
        cont = {(r["id_a"], r["id_b"]) for r in dedup.containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.6).collect()}
        both = {(r["id_a"], r["id_b"]) for r in dedup.similarity_pairs(
            docs, "doc_id", "text", n=3,
            jaccard_threshold=0.15, containment_threshold=0.6).collect()}
        assert both == jac | cont
        assert jac and cont  # both signals non-trivial on the corpus

    def test_requires_a_threshold(self, docs):
        from spark_expectations_spark.operators import dedup
        with pytest.raises(ValueError):
            dedup.similarity_pairs(docs, "doc_id", "text")


class TestPlanLSHBands:
    def test_inflection_tracks_threshold(self):
        from spark_expectations_spark.operators import dedup
        lo = dedup.plan_lsh_bands(0.2, 64)
        hi = dedup.plan_lsh_bands(0.9, 64)
        assert lo["bands"] * lo["rows"] == 64
        assert hi["bands"] * hi["rows"] == 64
        # low thresholds want many bands (few rows); high want few bands
        assert lo["bands"] > hi["bands"]
        assert abs(lo["inflection"] - 0.2) < 0.15
        assert abs(hi["inflection"] - 0.9) < 0.1
        # candidate probability at the target similarity is meaningful
        assert 0.3 < lo["p_at_threshold"] <= 1.0

    def test_validation(self):
        from spark_expectations_spark.operators import dedup
        import pytest as _pt
        with _pt.raises(ValueError):
            dedup.plan_lsh_bands(1.5, 64)
        with _pt.raises(ValueError):
            dedup.plan_lsh_bands(0.5, 1)


class TestLSHQualityReport:
    def test_report_invariants(self, docs):
        """Counts are consistent (hits bounded by both sides), quality
        in (0,1], and the LSH config used in the catalog achieves
        reasonable recall on the corpus fixture."""
        from spark_expectations_spark.operators import dedup
        row = dedup.lsh_quality_report(
            docs, "doc_id", "text", n=3, threshold=0.25,
            num_hashes=16, bands=4, hash_family="md5_48").first()
        assert row["n_exact"] > 0 and row["n_approx"] > 0
        assert row["n_hit"] <= min(row["n_exact"], row["n_approx"])
        assert 0 < row["precision"] <= 1 and 0 < row["recall"] <= 1
        assert row["mean_abs_err"] is not None and row["mean_abs_err"] < 0.5

    def test_sample_fraction_bounds_quadratic_side(self, docs):
        """sample_fraction shrinks BOTH sides deterministically (hash-
        stable subset): the sampled report's pair counts are bounded by
        the full run's, and its precision/recall approximate the full
        verdict — the built-in guard against an accidental corpus-wide
        all-pairs job (round-4 verdict item 3)."""
        from spark_expectations_spark.operators import dedup
        full = dedup.lsh_quality_report(
            docs, "doc_id", "text", n=3, threshold=0.25,
            num_hashes=16, bands=4, hash_family="md5_48").first()
        samp = dedup.lsh_quality_report(
            docs, "doc_id", "text", n=3, threshold=0.25,
            num_hashes=16, bands=4, hash_family="md5_48",
            sample_fraction=0.5).first()
        assert 0 < samp["n_exact"] < full["n_exact"]
        assert samp["n_approx"] < full["n_approx"]
        if samp["recall"] is not None and full["recall"] is not None:
            assert abs(samp["recall"] - full["recall"]) < 0.4
        # a '50'-meaning-50% typo must raise, not run corpus-wide
        with pytest.raises(ValueError, match="sample_fraction"):
            dedup.lsh_quality_report(docs, "doc_id", "text",
                                     sample_fraction=50)


class TestCrossSourceDupMatrix:
    def test_pair_counts_within_and_across(self, spark):
        """'x y' and 'y x' share a token-set fingerprint: A has two such
        docs (1 within-source pair), B one, giving A×B = 2·1 = 2 pairs;
        B's 'z' doc collides with nothing and zero-mass rows (B,B) are
        suppressed."""
        from spark_expectations_spark.operators import dedup, text
        df = spark.createDataFrame(
            [("A", "x y"), ("A", "y x"), ("B", "x y"), ("B", "z")],
            "source string, text string")
        out = dedup.cross_source_dup_matrix(
            df, "source", "text",
            key=text.token_set_fingerprint(F.col("text")))
        got = {(r["source_a"], r["source_b"]): (r["n_dup_pairs"], r["n_shared_fps"])
               for r in out.collect()}
        assert got == {("A", "A"): (1, 1), ("A", "B"): (2, 1)}

    def test_default_key_is_exact_fingerprint(self, spark):
        """Default key = normalization fingerprint: token order matters,
        so 'x y' vs 'y x' do NOT collide but case/punct variants do."""
        from spark_expectations_spark.operators import dedup
        df = spark.createDataFrame(
            [("A", "x y"), ("A", "y x"), ("B", "X  y!")],
            "source string, text string")
        out = dedup.cross_source_dup_matrix(df, "source", "text")
        got = {(r["source_a"], r["source_b"]): r["n_dup_pairs"]
               for r in out.collect()}
        assert got == {("A", "B"): 1}


class TestDupShingleFraction:
    def test_fractions(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c x"), (3, "p q r s")],
            "id int, text string")
        # shingles: d1 {abc, bcd}, d2 {abc, bcx}, d3 {pqr, qrs};
        # only "abc" occurs in >= 2 docs
        got = {r["id"]: (r["n_shingles"], r["n_dup"],
                         pytest.approx(r["dup_frac"]))
               for r in dedup.dup_shingle_fraction(
                   df, "id", "text", n=3).collect()}
        assert got[1] == (2, 1, pytest.approx(0.5))
        assert got[2] == (2, 1, pytest.approx(0.5))
        assert got[3] == (2, 0, pytest.approx(0.0))

    def test_min_df_raises_bar(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c"), (3, "a b c")], "id int, text string")
        out = dedup.dup_shingle_fraction(df, "id", "text", n=3, min_df=4)
        assert all(r["dup_frac"] == 0.0 for r in out.collect())


class TestTokenBudgetSample:
    def test_budget_and_md5_order(self, spark):
        import hashlib
        from spark_expectations_spark.operators import sampling
        rows = [("a", i, 30) for i in range(10)] + [("b", i, 200) for i in range(10, 14)]
        df = spark.createDataFrame(rows, "g string, id int, tok int")
        out = sampling.token_budget_sample(df, "g", "id", "tok", budget=100)
        got = {r["g"]: sorted(r2["id"] for r2 in out.filter(F.col("g") == r["g"]).collect())
               for r in out.select("g").distinct().collect()}
        # brute-force reference: md5-bucket order, exclusive cumsum < budget
        def brute(group):
            mem = sorted((int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16), i)
                         for g, i, t in rows if g == group)
            kept, cum = [], 0
            for _, i in mem:
                tok = next(t for g2, i2, t in rows if g2 == group and i2 == i)
                if cum < 100:
                    kept.append(i)
                cum += tok
            return sorted(kept)
        assert got["a"] == brute("a")   # 4 docs of 30 (cum 0,30,60,90 < 100)
        assert got["b"] == brute("b")   # first 200-token doc only
        assert len(got["a"]) == 4 and len(got["b"]) == 1

    def test_per_group_budgets_and_absent_group_dropped(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("a", 1, 10), ("a", 2, 10), ("b", 3, 10), ("c", 4, 10)],
            "g string, id int, tok int")
        out = sampling.token_budget_sample(
            df, "g", "id", "tok", budgets={"a": 15, "b": 5})
        got = sorted((r["g"], r["id"]) for r in out.collect())
        gs = [g for g, _ in got]
        assert "c" not in gs and gs.count("a") == 2 and gs.count("b") == 1

    def test_nested_under_budget_increase(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("a", i, 17) for i in range(20)], "g string, id int, tok int")
        small = {r["id"] for r in sampling.token_budget_sample(
            df, "g", "id", "tok", budget=60).collect()}
        big = {r["id"] for r in sampling.token_budget_sample(
            df, "g", "id", "tok", budget=150).collect()}
        assert small < big

    def test_args_exclusive(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([("a", 1, 1)], "g string, id int, tok int")
        with pytest.raises(ValueError):
            sampling.token_budget_sample(df, "g", "id", "tok")
        with pytest.raises(ValueError):
            sampling.token_budget_sample(df, "g", "id", "tok",
                                         budget=1, budgets={"a": 1})


class TestStripCommonLinesProperty:
    @staticmethod
    def _brute(rows, min_df):
        from collections import Counter
        df_count = Counter()
        for _id, txt in rows:
            for line in set(txt.split("|")):
                df_count[line] += 1
        common = {l for l, c in df_count.items() if c >= min_df}
        return {
            _id: "|".join(l for l in txt.split("|") if l not in common)
            for _id, txt in rows
        }

    def test_matches_bruteforce_on_random_corpora(self, spark):
        import random
        rng = random.Random(7)
        vocab = [f"line{i}" for i in range(12)]
        for trial in range(3):
            rows = [(i, "|".join(rng.choice(vocab)
                                 for _ in range(rng.randrange(1, 8))))
                    for i in range(25)]
            min_df = rng.choice([2, 5, 10])
            df = spark.createDataFrame(rows, "id int, text string")
            out = text.strip_common_lines(df, "id", "text",
                                          sep="|", min_df=min_df)
            got = {r["id"]: r["clean_text"] for r in out.collect()}
            assert got == self._brute(rows, min_df), f"trial {trial}"


class TestWinnowingFingerprint:
    def test_shared_sketch_between_near_identical_docs(self, spark):
        base = " ".join(f"tok{i}" for i in range(120))
        edited = base.replace("tok60", "CHANGED")
        other = " ".join(f"zzz{i}" for i in range(120))
        df = spark.createDataFrame(
            [(1, base), (2, edited), (3, other)], "id int, text string")
        out = df.select("id", text.rolling_hash_fingerprint(
            F.col("text"), window=8, keep_every=4).alias("fp"))
        got = {r["id"]: set(r["fp"]) for r in out.collect()}
        # a 1-token edit perturbs only the windows covering it; most
        # sketch hashes survive, and an unrelated doc shares none
        inter = got[1] & got[2]
        assert len(got[1]) > 0
        assert len(inter) >= len(got[1]) * 0.7
        assert not (got[1] & got[3])

    def test_deterministic_and_sorted(self, spark):
        df = spark.createDataFrame([(1, "a b c d e f g h i j")],
                                   "id int, text string")
        col = text.rolling_hash_fingerprint(F.col("text"),
                                            window=3, keep_every=2)
        a = df.select(col.alias("fp")).first()["fp"]
        b = df.repartition(4).select(col.alias("fp")).first()["fp"]
        assert a == b == sorted(set(a))


class TestUpperRatio:
    def test_ratios(self, spark):
        df = spark.createDataFrame(
            [(1, "ABCD"), (2, "AbCd"), (3, "abcd"), (4, "")],
            "id int, text string")
        got = {r["id"]: r["r"] for r in df.select(
            "id", text.upper_ratio(F.col("text")).alias("r")).collect()}
        assert got[1] == 1.0 and got[2] == 0.5
        assert got[3] == 0.0 and got[4] == 0.0


class TestAttachMediaMetadata:
    def test_struct_shape_and_size(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"\x00\x01\x02"))], "id int, data binary")
        out = multimodal.attach_media_metadata(df, "data", "image/png")
        row = out.first()
        assert row["media_meta"]["mime"] == "image/png"
        assert row["media_meta"]["width"] is None
        assert row["media_size_bytes"] == 3
        assert dict(out.dtypes)["media_meta"].startswith("struct<mime:string")


class TestSchemaDiff:
    def test_added_removed_type_changed(self, spark):
        from spark_expectations_spark.operators import diff
        a = spark.createDataFrame([], "id long, x int, y string")
        b = spark.createDataFrame([], "id long, x double, z string")
        d = diff.schema_diff(a, b)
        assert d["added"] == ["z"] and d["removed"] == ["y"]
        assert d["type_changed"] == {"x": ("int", "double")}
        assert d["common"] == ["id", "x"]


class TestFormatSniffing:
    def test_magic_bytes_detected(self, spark):
        from spark_expectations_spark.operators import multimodal as mm
        rows = [
            (1, b"\xff\xd8\xff\xe0" + b"\x00" * 12, "jpeg"),
            (2, b"\x89PNG\r\n\x1a\n" + b"\x00" * 8, "png"),
            (3, b"GIF89a" + b"\x00" * 10, "gif"),
            (4, b"RIFF\x24\x08\x00\x00WAVEfmt ", "riff"),
            (5, b"\x00\x00\x00\x18ftypisom" + b"\x00" * 4, "mp4"),
            (6, b"%PDF-1.7" + b"\x00" * 8, "pdf"),
            (7, b"plain text bytes", "unknown"),
        ]
        df = spark.createDataFrame(
            [(i, d) for i, d, _ in rows], "id long, data binary")
        got = {r["id"]: r["fmt"] for r in df.select(
            "id", mm.detect_format(F.col("data")).alias("fmt")).collect()}
        for i, _, want in rows:
            assert got[i] == want, (i, want, got[i])

    def test_riff_disambiguation(self, spark):
        from spark_expectations_spark.operators import multimodal as mm
        df = spark.createDataFrame(
            [(1, b"RIFF\x00\x00\x00\x00WAVEfmt "),
             (2, b"RIFF\x00\x00\x00\x00WEBPVP8 "),
             (3, b"not riff at all!")],
            "id long, data binary")
        got = {r["id"]: r["k"] for r in df.select(
            "id", mm.riff_kind(F.col("data")).alias("k")).collect()}
        assert got[1] == "wav" and got[2] == "webp" and got[3] is None


class TestSplitByTimeTimestamp:
    def test_timestamp_column_with_timedelta_embargo(self, spark):
        """Timestamp ts columns work: the embargo lower bound is
        computed driver-side, so datetime boundary + timedelta embargo
        never hits a timestamp-minus-int type error."""
        from datetime import datetime, timedelta
        from spark_expectations_spark.operators import sampling
        rows = [(datetime(2024, 3, d, 12, 0, 0),) for d in range(1, 11)]
        df = spark.createDataFrame(rows, "ts timestamp")
        got = {r["ts"].day: r["split"] for r in sampling.split_by_time(
            df, "ts", datetime(2024, 3, 8),
            embargo=timedelta(days=2)).collect()}
        assert got[5] == "train" and got[6] == "embargo"
        assert got[7] == "embargo" and got[8] == "test"
        # embargo=0 two-way split also type-checks on timestamps
        two = {r["split"] for r in sampling.split_by_time(
            df, "ts", datetime(2024, 3, 8)).collect()}
        assert two == {"train", "test"}


class TestGopherGate:
    def test_flags_fire_individually(self, spark):
        from spark_expectations_spark.operators import text as T
        good = ("the quick brown fox jumps over the lazy dog and then "
                "rests with some of that fine grass to have a calm day "
                "while birds that sing fly over the meadow and everyone "
                "is happy to be here with friends of the forest today "
                "because life is good and the sun shines bright above")
        bullets = "\n".join(f"- item {i}" for i in range(10))
        dots = "\n".join(f"line {i}..." for i in range(10))
        symbols = "# " * 60
        df = spark.createDataFrame(
            [(1, good), (2, bullets), (3, dots), (4, symbols), (5, ""),
             (6, None)],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in T.gopher_quality_flags(
            df, "doc_id", "text", min_words=20).collect()}
        # NULL text folds to '': metrics are 0/false, never NULL
        assert out[6]["n_words"] == 0 and out[6]["passes"] is False
        assert out[6]["symbol_ratio"] == 0.0
        assert out[1]["passes"] is True
        assert out[1]["stopword_hits"] >= 2
        assert out[2]["bullet_line_frac"] == 1.0 and not out[2]["passes"]
        assert out[3]["ellipsis_line_frac"] == 1.0 and not out[3]["passes"]
        assert out[4]["symbol_ratio"] >= 0.5 and not out[4]["passes"]
        assert out[5]["n_words"] == 0 and not out[5]["passes"]

    def test_zero_shuffle_projection(self, docs):
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators import text as T
        out = T.gopher_quality_flags(docs, "doc_id", "text")
        assert plans.num_shuffles(out) == 0

    def test_mean_word_len_and_alpha(self, spark):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [(1, "aa bbbb cc 1234")], "doc_id long, text string")
        r = T.gopher_quality_flags(df, "doc_id", "text").first()
        assert r["n_words"] == 4
        assert r["mean_word_len"] == 3.0   # (2+4+2+4)/4
        assert r["alpha_word_frac"] == 0.75


class TestNgramNovelty:
    def test_known_fractions(self, spark):
        from spark_expectations_spark.operators import dedup as dd
        # doc1 introduces 'a b c', 'b c d' (novel); doc2 repeats both and
        # adds 'c d e'; doc3 is all doc1 shingles
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "b c d e"), (3, "a b c")],
            "doc_id long, text string")
        got = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
               for r in dd.ngram_novelty(df, "doc_id", "text", n=3).collect()}
        # doc1 shingles: 'a b c','b c d' both first -> 1.0
        assert got[1] == (2, 2, 1.0)
        # doc2: 'b c d' (seen), 'c d e' (novel) -> 0.5
        assert got[2] == (2, 1, 0.5)
        # doc3: 'a b c' seen -> 0.0
        assert got[3] == (1, 0, 0.0)

    def test_linear_no_pair_blowup(self, docs):
        """Plan pin: posting-list novelty never materializes pairs — no
        join of the corpus with itself, row counts stay O(shingles)."""
        from spark_expectations_spark.operators import dedup as dd
        out = dd.ngram_novelty(docs, "doc_id", "text", n=3)
        assert out.count() == docs.count()
        tot = out.agg(F.sum("n_novel"), F.sum("n_shingles")).first()
        assert 0 < tot[0] <= tot[1]


class TestStandardize:
    def test_known_values_and_constant_dim(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        df = spark.createDataFrame(
            [(1, [0.0, 5.0]), (2, [2.0, 5.0]), (3, [4.0, 5.0])],
            "vec_id long, embedding array<double>")
        got = {r["vec_id"]: r["standardized"]
               for r in sim.standardize(df).collect()}
        # dim0: mean 2, std_pop sqrt(8/3); dim1 constant -> 0.0
        import math
        sd = math.sqrt(8.0 / 3.0)
        assert got[1][0] == pytest.approx(-2 / sd)
        assert got[2][0] == pytest.approx(0.0)
        assert got[3][0] == pytest.approx(2 / sd)
        assert all(got[i][1] == 0.0 for i in (1, 2, 3))

    def test_ragged_vectors_raise(self, spark):
        """arrays_zip would silently NULL-pad a short vector against the
        corpus stats — the guard turns that into a loud error."""
        from pyspark.errors.exceptions.captured import SparkRuntimeException
        from spark_expectations_spark.operators import similarity as sim
        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [3.0])],
            "vec_id long, embedding array<double>")
        with pytest.raises((SparkRuntimeException, Exception),
                           match="ragged"):
            sim.standardize(df).collect()

    def test_result_is_zero_mean_unit_var(self, emb):
        from spark_expectations_spark.operators import similarity as sim
        out = sim.standardize(emb)
        stats = (out.select(F.posexplode("standardized").alias("p", "v"))
                 .groupBy("p").agg(F.avg("v").alias("m"),
                                   F.stddev_pop("v").alias("s"))
                 .agg(F.max(F.abs(F.col("m"))).alias("max_m"),
                      F.max(F.abs(F.col("s") - 1)).alias("max_s"))
                 .first())
        assert stats["max_m"] < 1e-9 and stats["max_s"] < 1e-9


class TestDsirWeights:
    def test_identical_target_scores_zero(self, spark):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "beta gamma delta")],
            "doc_id long, text string")
        out = T.dsir_log_weights(df, "doc_id", "text", df).collect()
        assert all(r["sum_logratio"] == 0.0 for r in out)
        assert all(r["avg_logratio"] == 0.0 for r in out)

    def test_target_like_docs_score_higher(self, spark):
        from spark_expectations_spark.operators import text as T
        raw = spark.createDataFrame(
            [(1, "physics energy quantum field theory"),
             (2, "buy cheap pills now click here"),
             (3, "quantum field energy states physics")],
            "doc_id long, text string")
        target = spark.createDataFrame(
            [("physics of the quantum field and energy",)], "text string")
        got = {r["doc_id"]: r["avg_logratio"]
               for r in T.dsir_log_weights(
                   raw, "doc_id", "text", target).collect()}
        assert got[1] > got[2] and got[3] > got[2]

    def test_empty_doc_null_scores(self, spark):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [(1, "hello world"), (2, None)], "doc_id long, text string")
        got = {r["doc_id"]: r for r in
               T.dsir_log_weights(df, "doc_id", "text", df).collect()}
        assert got[2]["n_tokens"] == 0
        assert got[2]["sum_logratio"] is None

    def test_min_count_prunes_rare_tokens_only(self, spark):
        """r5 verdict minor #3: the docstring promised a min_count vocab
        cut but no parameter existed. The cut must (a) shrink the ratio
        table, (b) leave docs WITHOUT pruned tokens byte-identical
        (smoothing totals stay full-vocab), (c) stop pruned tokens from
        counting toward n_tokens."""
        from spark_expectations_spark.operators import text as T
        raw = spark.createDataFrame(
            [(1, "common common words words"),      # all tokens >= 2x raw
             (2, "common words uniquetoken")],      # one rare token
            "doc_id long, text string")
        target = spark.createDataFrame([("common words",)], "text string")
        base = {r["doc_id"]: r for r in T.dsir_log_weights(
            raw, "doc_id", "text", target).collect()}
        cut = {r["doc_id"]: r for r in T.dsir_log_weights(
            raw, "doc_id", "text", target, min_count=2).collect()}
        # raw counts: common=3, words=3, uniquetoken=1 -> only
        # 'uniquetoken' is pruned at min_count=2
        assert tuple(cut[1]) == tuple(base[1])          # untouched doc
        assert cut[2]["n_tokens"] == base[2]["n_tokens"] - 1
        assert cut[2]["sum_logratio"] != base[2]["sum_logratio"]

    def test_min_count_default_matches_uncut(self, spark):
        from spark_expectations_spark.operators import text as T
        raw = spark.createDataFrame(
            [(1, "alpha beta beta"), (2, "gamma alpha")],
            "doc_id long, text string")
        target = spark.createDataFrame(
            [("alpha delta",)], "text string")  # delta is target-only
        a = sorted(map(tuple, T.dsir_log_weights(
            raw, "doc_id", "text", target).collect()))
        b = sorted(map(tuple, T.dsir_log_weights(
            raw, "doc_id", "text", target, min_count=1).collect()))
        assert a == b
        with pytest.raises(ValueError, match="min_count"):
            T.dsir_log_weights(raw, "doc_id", "text", target, min_count=0)

    def test_persist_tokens_single_evaluation_and_release(self, spark):
        import gc
        from spark_expectations_spark.operators import text as T

        def n_cached():
            return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

        df = spark.createDataFrame(
            [(i, "tok%d common words" % (i % 5)) for i in range(50)],
            "doc_id long, text string")
        base_n = n_cached()
        out = T.dsir_log_weights(df, "doc_id", "text", df,
                                 persist_tokens=True)
        plain = T.dsir_log_weights(df, "doc_id", "text", df)
        assert sorted(map(tuple, out.collect())) == \
            sorted(map(tuple, plain.collect()))
        assert n_cached() == base_n + 1
        del out
        gc.collect()
        assert n_cached() == base_n


class TestWithKfold:
    def test_deterministic_and_partition_invariant(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [(i, "ab"[i % 2]) for i in range(200)], "id long, s string")
        a = {r["id"]: r["fold"] for r in
             sampling.with_kfold(df, "id", 5, strata_col="s").collect()}
        b = {r["id"]: r["fold"] for r in sampling.with_kfold(
            df.repartition(7), "id", 5, strata_col="s").collect()}
        assert a == b
        assert set(a.values()) == set(range(5))
        # every (stratum, fold) cell populated — the stratified claim
        rows = sampling.with_kfold(df, "id", 5, strata_col="s") \
            .groupBy("s", "fold").count().collect()
        assert len(rows) == 10

    def test_null_key_gets_null_fold_and_k_validated(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [(1, "a"), (None, "a")], "id int, s string")
        got = {r["id"]: r["fold"]
               for r in sampling.with_kfold(df, "id", 3).collect()}
        assert got[None] is None and got[1] is not None
        with _pytest.raises(ValueError, match="k must"):
            sampling.with_kfold(df, "id", 1)

    def test_null_stratum_keeps_fold(self, spark):
        """Review fix: a NULL stratum must be ITS OWN stratum, not
        propagate NULL into the hash and silently drop valid-key rows
        from every fold."""
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [(i, None if i % 3 == 0 else "a") for i in range(60)],
            "id int, s string")
        got = sampling.with_kfold(df, "id", 4, strata_col="s").collect()
        assert all(r["fold"] is not None for r in got)
        null_folds = {r["fold"] for r in got if r["s"] is None}
        assert len(null_folds) > 1     # NULL stratum spreads over folds

    def test_salt_decorrelates_folds(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([(i,) for i in range(500)], "id long")
        a = {r["id"]: r["fold"] for r in
             sampling.with_kfold(df, "id", 5).collect()}
        b = {r["id"]: r["fold"] for r in
             sampling.with_kfold(df, "id", 5, salt="epoch2").collect()}
        agree = sum(1 for i in a if a[i] == b[i]) / len(a)
        assert 0.05 < agree < 0.4   # ~1/k agreement when independent


class TestMadOutliers:
    def test_flags_only_extreme_scores(self, spark):
        """18 clustered values + 2 extremes: MAD ignores the extremes
        (mean/stddev would not), so only they cross k=3.5."""
        from spark_expectations_spark.operators import sampling
        vals = list(range(10, 28)) + [1000, -1000]
        df = spark.createDataFrame(
            [("g", i, v) for i, v in enumerate(vals)],
            "g string, id int, s int")
        got = {r["s"]: (r["is_outlier"], r["robust_z"])
               for r in sampling.mad_outliers(df, "g", "s").collect()}
        assert got[1000][0] and got[-1000][0]
        assert not any(flag for s, (flag, _) in got.items()
                       if s not in (1000, -1000))
        # robust_z signs track direction
        assert got[1000][1] > 0 > got[-1000][1]

    def test_zero_mad_group_flags_any_deviation(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("g", 1, 5), ("g", 2, 5), ("g", 3, 5), ("g", 4, 9)],
            "g string, id int, s int")
        got = {r["id"]: r for r in
               sampling.mad_outliers(df, "g", "s").collect()}
        assert got[4]["is_outlier"] and not got[1]["is_outlier"]
        assert got[4]["robust_z"] is None  # scale undefined at MAD=0

    def test_null_score_and_null_group(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("a", 1, 10), ("a", 2, 12), ("a", 3, None),
             (None, 4, 5), (None, 5, 6), (None, 6, 500)],
            "g string, id int, s int")
        got = {r["id"]: r for r in
               sampling.mad_outliers(df, "g", "s").collect()}
        assert len(got) == 6               # NULL group rows kept
        assert got[3]["is_outlier"] is None  # NULL score -> NULL flag
        assert got[6]["is_outlier"]          # screened within NULL group


class TestZipfFit:
    def test_recovers_exact_power_law(self, spark):
        """Tokens generated with count = round(1000 / rank): the fit
        must recover slope ~ -1 with r2 ~ 1."""
        from spark_expectations_spark.operators import text as T
        words = []
        for rank in range(1, 31):
            words += ["w%02d" % rank] * round(1000 / rank)
        df = spark.createDataFrame([(" ".join(words),)], "text string")
        row = T.zipf_fit(df, "text", top_n=30).first()
        assert row["n_vocab"] == 30 and row["n_fit"] == 30
        assert abs(row["slope"] + 1.0) < 0.02
        assert row["r2"] > 0.999

    def test_uniform_corpus_is_flat(self, spark):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [("alpha beta gamma delta epsilon " * 10,)], "text string")
        row = T.zipf_fit(df, "text", top_n=10).first()
        assert abs(row["slope"]) < 1e-9 and row["n_fit"] == 5

    def test_top_n_caps_fit_not_totals(self, spark):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [("a a a b b c d e f g",)], "text string")
        row = T.zipf_fit(df, "text", top_n=3).first()
        assert row["n_fit"] == 3
        assert row["n_vocab"] == 7 and row["n_tokens"] == 10
        with pytest.raises(ValueError, match="top_n"):
            T.zipf_fit(df, "text", top_n=1)


class TestStandardizedNormOutliers:
    def test_flags_vector_far_from_cloud(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        import random
        rng = random.Random(3)
        rows = [(i, [rng.gauss(0, 1), rng.gauss(5, 2)])
                for i in range(100)]
        rows.append((999, [30.0, 200.0]))       # extreme in both dims
        rows.append((1000, None))               # NULL vector
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        got = {r["vec_id"]: r for r in sim.standardized_norm_outliers(
            df, threshold=3.0).collect()}
        assert got[999]["is_outlier"]
        assert got[1000]["rms_z"] is None and got[1000]["is_outlier"] is None
        flagged = [v for v, r in got.items() if r["is_outlier"]]
        assert flagged == [999]

    def test_scale_equivariance_vs_raw_norm(self, spark):
        """A vector large only along a high-variance dimension must NOT
        be flagged — the property that distinguishes this screen from
        norm_outliers' raw L2."""
        from spark_expectations_spark.operators import similarity as sim
        # dim0 spread is huge (values +-1000), dim1 tiny (+-1)
        rows = [(i, [float((-1) ** i * 1000), float((-1) ** i)])
                for i in range(50)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        out = sim.standardized_norm_outliers(df, threshold=2.0)
        assert out.filter("is_outlier").count() == 0


class TestWinsorize:
    def test_clips_to_group_fences(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("g", i, v) for i, v in enumerate([0, 10, 20, 30, 40, 1000])],
            "g string, id int, s int")
        out = {r["id"]: r["s_winsorized"] for r in
               sampling.winsorize(df, "g", "s",
                                  lower=0.25, upper=0.75).collect()}
        # quantile_cont fences of [0,10,20,30,40,1000]: q25=12.5, q75=37.5
        assert out[0] == 12.5 and out[1] == 12.5
        assert out[2] == 20.0 and out[3] == 30.0
        assert out[5] == 37.5  # the outlier is pinned, not dropped
        assert len(out) == 6   # winsorize keeps every row

    def test_per_group_and_validation(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("a", 1, 0), ("a", 2, 100), ("b", 3, 0), ("b", 4, 10)],
            "g string, id int, s int")
        out = {r["id"]: r["s_winsorized"] for r in
               sampling.winsorize(df, "g", "s",
                                  lower=0.0, upper=1.0).collect()}
        assert out[2] == 100.0 and out[3] == 0.0  # identity at full range
        with pytest.raises(ValueError):
            sampling.winsorize(df, "g", "s", lower=0.9, upper=0.5)

    def test_approx_tier_on_doubles(self, spark):
        import random
        from spark_expectations_spark.operators import sampling
        rng = random.Random(17)
        df = spark.createDataFrame(
            [("g", i, rng.random()) for i in range(2000)],
            "g string, id int, s double")
        out = sampling.winsorize(df, "g", "s", lower=0.1, upper=0.9,
                                 exact=False)
        mm = out.agg(F.min("s_winsorized"), F.max("s_winsorized")).first()
        assert 0.05 < mm[0] < 0.15 and 0.85 < mm[1] < 0.95
        assert out.count() == 2000
        with pytest.raises(ValueError, match="relative_error"):
            sampling.winsorize(df, "g", "s", exact=False,
                               relative_error=0.0)

    def test_null_score_and_null_group_preserved(self, spark):
        """Review findings: a NULL score must stay NULL (least/greatest
        skip NULLs and would pin it to the upper fence), and NULL-group
        rows must survive the fence join (null-safe equality) with
        fences computed over the NULL group itself."""
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("a", 1, 0), ("a", 2, 100), ("a", 3, None),
             (None, 4, 7), (None, 5, 9)],
            "g string, id int, s int")
        out = {r["id"]: (r["g"], r["s_winsorized"]) for r in
               sampling.winsorize(df, "g", "s",
                                  lower=0.0, upper=1.0).collect()}
        assert len(out) == 5                      # nothing dropped
        assert out[3] == ("a", None)              # NULL score preserved
        assert out[4] == (None, 7.0)              # NULL group clipped
        assert out[5] == (None, 9.0)              # within its own fences


class TestFinalReviewFixes:
    """Round-5 final review pass: sampler independence/NULL contracts,
    schema derivation, degenerate-blocking guards."""

    def test_salted_samples_are_independent(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([(i,) for i in range(4000)], "id long")
        train = sampling.with_split(
            df, "id", {"train": 0.5, "test": 0.5}).filter("split = 'train'")
        # unsalted: the 0.5 sub-sample of the 0.5 split is the split
        # itself (shared coin -> nested selection, documented)
        nested = sampling.deterministic_sample(train, "id", 0.5)
        assert nested.count() == train.count()
        # salted: ~half of the split survives (independent coin)
        indep = sampling.deterministic_sample(train, "id", 0.5,
                                              salt="resample-v1")
        frac = indep.count() / train.count()
        assert 0.4 < frac < 0.6

    def test_gate_and_buckets_keep_null_groups(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("a", 1, 10), ("a", 2, 20), (None, 3, 5), (None, 4, 50)],
            "g string, id int, s int")
        kept = sampling.percentile_gate(df, "g", "s", q=0.5)
        # NULL group gated against its own median (27.5): id 4 survives
        assert {r["id"] for r in kept.collect()} == {2, 4}
        b = sampling.quantile_buckets(df, "g", "s", qs=(0.5,),
                                      labels=("lo", "hi"))
        got = {r["id"]: r["bucket"] for r in b.collect()}
        assert len(got) == 4 and got[3] == "lo" and got[4] == "hi"

    def test_mixture_int_source_column(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [(i, i % 2) for i in range(100)], "id long, src int")
        out = sampling.temperature_resample(df, "id", "src", alpha=0.5)
        assert out.count() > 0
        assert dict(out.dtypes)["src"] == "int"

    def test_kmeans_refine_string_centroids(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        cents = spark.createDataFrame(
            [("en", [1.0, 0.0]), ("fr", [0.0, 1.0])],
            "centroid_id string, centroid array<float>")
        df = spark.createDataFrame(
            [(1, [0.9, 0.1]), (2, [0.1, 0.9]), (3, [0.8, 0.0])],
            "vec_id long, embedding array<float>")
        out = {r["centroid_id"]: r["centroid"]
               for r in sim.kmeans_refine(df, cents).collect()}
        assert set(out) == {"en", "fr"}
        assert out["en"][0] == pytest.approx(0.85, abs=1e-6)

    def test_assignment_quality_weighs_duplicates(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0])], "centroid_id long, centroid array<float>")
        # two identical on-centroid rows + one orthogonal: the mean must
        # weight the duplicate rows individually ((1+1+0)/3), not
        # collapse them ((1+0)/2)
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
            "vec_id long, embedding array<float>")
        q = sim.assignment_quality(df, cents)
        assert q == pytest.approx(2.0 / 3.0, abs=1e-9)

    def test_standardize_null_vector_stays_null(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        df = spark.createDataFrame(
            [(1, [0.0, 4.0]), (2, [2.0, 6.0]), (3, None)],
            "vec_id long, embedding array<double>")
        got = {r["vec_id"]: r["standardized"]
               for r in sim.standardize(df).collect()}
        assert got[3] is None
        assert got[1] is not None and got[2] is not None

    def test_simhash_md5_rejects_wide_bits(self, docs):
        from spark_expectations_spark.operators import dedup as dd
        with pytest.raises(ValueError, match="48 bits"):
            dd.simhash_signatures(docs, "doc_id", "text",
                                  hash_family="md5_48")  # default bits=64
        # the supported width still works
        sigs = dd.simhash_signatures(docs.limit(20), "doc_id", "text",
                                     bits=48, hash_family="md5_48")
        assert sigs.count() == 20

    def test_bucketed_pairs_single_scan_same_result(self, emb):
        """The single-scan exploded bucketing must produce the identical
        pair set the per-table union did (same plane generation)."""
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators import similarity as sim
        pairs = sim.bucketed_near_duplicate_pairs(
            emb, dim=64, threshold=0.9)
        # plan inspected BEFORE execution (post-execution explain prints
        # final+initial AQE sections, double-counting the scan)
        txt = plans.plan_text(pairs, "simple")
        # cached fixture: ONE InMemoryTableScan (the union-of-tables
        # formulation printed num_tables of them)
        assert txt.count("InMemoryTableScan") == 1
        exact = sim.near_duplicate_pairs(emb, threshold=0.9)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        want = {(r["id_a"], r["id_b"]) for r in exact.collect()}
        assert got == want  # defaults reach recall 1.0 on the fixture


class TestJoinCardinalityEstimate:
    def test_estimates_within_sketch_error(self, spark):
        """left keys 0..9999 (x2 rows each), right keys 5000..14999:
        5000 common keys, exact join rows = 5000 x 2 x 1."""
        from spark_expectations_spark.operators import sketches
        left = (spark.range(0, 10000).selectExpr("id as k")
                .unionAll(spark.range(0, 10000).selectExpr("id as k")))
        right = spark.range(5000, 15000).selectExpr("id as k")
        r = sketches.join_cardinality_estimate(left, "k", right, "k") \
            .first()
        assert (r["left_rows"], r["right_rows"]) == (20000, 10000)
        assert abs(r["left_distinct_est"] - 10000) / 10000 < 0.05
        assert abs(r["common_keys_est"] - 5000) / 5000 < 0.05
        assert abs(r["semi_selectivity"] - 0.5) < 0.05
        exact_join = left.join(right, "k").count()
        assert exact_join == 10000
        assert abs(r["join_rows_est"] - exact_join) / exact_join < 0.1

    def test_disjoint_sides_estimate_zero(self, spark):
        from spark_expectations_spark.operators import sketches
        a = spark.range(0, 1000).selectExpr("id as k")
        b = spark.range(50000, 51000).selectExpr("id as k")
        r = sketches.join_cardinality_estimate(a, "k", b, "k").first()
        assert r["common_keys_est"] < 1000 * 0.02
        assert r["join_rows_est"] < 1000 * 0.02

    def test_null_keys_do_not_inflate_multiplicity(self, spark):
        """Review fix: NULL keys never join, so a 50%-NULL FK column
        must not double the join-size estimate."""
        from spark_expectations_spark.operators import sketches
        left = spark.range(0, 1000).selectExpr(
            "CASE WHEN id % 2 = 0 THEN id div 2 END as k")  # 500 NULLs
        right = spark.range(0, 500).selectExpr("id as k")
        r = sketches.join_cardinality_estimate(left, "k", right, "k")             .first()
        exact = left.join(right, "k").count()
        assert exact == 500
        assert abs(r["join_rows_est"] - exact) / exact < 0.1
        assert r["left_rows"] == 1000          # total rows still reported

    def test_empty_side_reports_zero_not_null(self, spark):
        from spark_expectations_spark.operators import sketches
        a = spark.range(0, 100).selectExpr("id as k")
        empty = a.filter("k > 1000")
        r = sketches.join_cardinality_estimate(a, "k", empty, "k").first()
        assert r["join_rows_est"] == 0.0
        assert r["semi_selectivity"] is not None


class TestWhiten:
    def test_output_covariance_is_identity(self, spark):
        import numpy as np
        import random
        from spark_expectations_spark.operators import similarity as sim
        rng = random.Random(11)
        # correlated 3-dim cloud: dim2 = dim0 + noise, shifted mean
        rows = []
        for i in range(400):
            a, b = rng.gauss(5, 2), rng.gauss(-1, 0.5)
            rows.append((i, [a, b, a + rng.gauss(0, 0.3)]))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        out = sim.whiten(df)
        x = np.stack([r["whitened"] for r in out.collect()])
        assert np.abs(x.mean(axis=0)).max() < 1e-9
        cov = np.cov(x, rowvar=False, bias=True)
        assert np.abs(cov - np.eye(3)).max() < 1e-3  # eps-limited

    def test_null_passthrough_and_columns_carried(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        df = spark.createDataFrame(
            [(1, [1.0, 2.0], "a"), (2, [3.0, 1.0], "b"),
             (3, None, "c"), (4, [0.0, 0.0], "d")],
            "vec_id long, embedding array<double>, tag string")
        got = {r["vec_id"]: r for r in sim.whiten(df).collect()}
        assert got[3]["whitened"] is None
        assert got[3]["tag"] == "c"            # extra columns survive
        assert len(got[1]["whitened"]) == 2

    def test_ragged_and_empty_raise(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import similarity as sim
        ragged = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [3.0])],
            "vec_id long, embedding array<double>")
        with _pytest.raises(Exception, match="ragged"):
            sim.whiten(ragged).collect()
        empty = spark.createDataFrame(
            [(1, None)], "vec_id long, embedding array<double>")
        with _pytest.raises(ValueError, match="no non-NULL"):
            sim.whiten(empty)

    def test_whiten_check_invariants_and_raw_moments(self, spark):
        """The driver-gateable twin (r8 verdict task 4): raw per-dim
        mean/sd match numpy's, and the whitened-covariance deviations
        round to exactly 0.0 — while the UN-whitened data (negative
        control) would not."""
        import numpy as np
        import random
        from spark_expectations_spark.operators import similarity as sim
        rng = random.Random(7)
        rows = []
        for i in range(300):
            a, b = rng.gauss(5, 2), rng.gauss(-1, 0.5)
            rows.append((i, [a, b, a + rng.gauss(0, 0.3)]))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        got = {r["pos"]: r for r in sim.whiten_check(df).collect()}
        assert set(got) == {0, 1, 2}
        x = np.array([r[1] for r in rows])
        for i in range(3):
            assert got[i]["mu"] == pytest.approx(
                round(float(x[:, i].mean()), 4))
            assert got[i]["sd"] == pytest.approx(
                round(float(x[:, i].std()), 4))
            assert got[i]["diag_dev"] == 0.0
            assert got[i]["offdiag_max"] == 0.0
            assert got[i]["mean_dev"] == 0.0
        # negative control: the raw (correlated, shifted) cloud is far
        # from cov = I / mean = 0 — the invariants genuinely discriminate
        cov = np.cov(x, rowvar=False, bias=True)
        assert round(abs(cov[0, 2]), 3) != 0.0
        assert round(abs(float(x[:, 0].mean())), 4) != 0.0


class TestTokenEntropy:
    def test_known_entropies(self, spark):
        import math
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [(1, "a b c d"),          # uniform over 4 -> H = ln 4, norm 1
             (2, "a a a a"),          # single token -> 0, norm 0
             (3, "a a b b b b"),      # p = (1/3, 2/3)
             (4, None)],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in T.token_entropy(
            df, "doc_id", "text").collect()}
        assert got[1]["token_entropy"] == pytest.approx(math.log(4))
        assert got[1]["norm_entropy"] == pytest.approx(1.0)
        assert got[2]["token_entropy"] == pytest.approx(0.0)
        assert got[2]["norm_entropy"] == 0.0
        h = -(1/3) * math.log(1/3) - (2/3) * math.log(2/3)
        assert got[3]["token_entropy"] == pytest.approx(h)
        assert got[3]["norm_entropy"] == pytest.approx(h / math.log(2))
        assert got[4]["token_entropy"] is None
        assert got[4]["n_tokens"] is None

    def test_empty_and_whitespace_docs_get_nulls(self, spark):
        """Review fix: splitting '' yields [''] — the phantom token made
        empty docs look like 1-token documents; the documented contract
        is NULLs."""
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "real tokens here")],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in T.token_entropy(
            df, "doc_id", "text").collect()}
        assert got[1]["n_tokens"] is None
        assert got[2]["token_entropy"] is None
        assert got[3]["n_tokens"] == 3


class TestReadability:
    def test_known_arithmetic(self, spark):
        from spark_expectations_spark.operators import text as T
        # "the cat sat. it ran!" -> 5 words, 2 sentences,
        # syllables: the=1 cat=1 sat.=1 it=1 ran!=1 -> 5
        df = spark.createDataFrame(
            [(1, "The cat sat. It ran!"), (2, ""), (3, None),
             (4, "no terminal punctuation here")],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in T.readability(
            df, "doc_id", "text").collect()}
        r1 = got[1]
        assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == \
            (5, 2, 5)
        expect = 206.835 - 1.015 * 5 / 2 - 84.6 * 5 / 5
        assert r1["flesch"] == pytest.approx(expect)
        assert got[2]["n_words"] == 0 and got[2]["flesch"] is None
        assert got[3]["flesch"] is None
        assert got[4]["n_sentences"] == 1  # fragment = one sentence


class TestChi2BySegmentFdr:
    def test_shifted_segment_detected_others_survive_bh(self, spark):
        """Only the injected segment rejects after BH; per-segment chi2
        matches a driver-side replay; the closed-form even-dof p-value
        matches the Erlang survival function."""
        import collections
        import math
        from spark_expectations_spark.operators import drift
        # 5 categories -> dof 4 (even) so the closed-form p applies
        base = spark.range(0, 4000).selectExpr(
            "id % 8 as seg", "concat('c', (id div 8) % 5) as cat")
        cur = spark.range(0, 4000).selectExpr(
            "id % 8 as seg",
            "case when id % 8 = 3 then concat('c', (id div 8) % 2) "
            "else concat('c', (id div 8) % 5) end as cat")
        per = drift.chi2_by_segment(base, cur, "cat", "seg")
        pv = per.withColumn("p", drift.chi2_pvalue("chi2", "dof"))
        out = {r["segment"]: r for r in drift.fdr_bh(
            pv, "p", alpha=0.05, tiebreak_cols=("segment",)).collect()}
        assert out["3"]["rejected"] and not any(
            out[s]["rejected"] for s in out if s != "3")
        # replay segment 3's chi2 + p on the driver
        nb = collections.Counter(
            f"c{(i // 8) % 5}" for i in range(4000) if i % 8 == 3)
        nc = collections.Counter(
            f"c{(i // 8) % 2}" for i in range(4000) if i % 8 == 3)
        tb, tc = sum(nb.values()), sum(nc.values())
        s = 0.0
        for c in set(nb) | set(nc):
            b, u = nb.get(c, 0), nc.get(c, 0)
            eb, ec = (b + u) * tb / (tb + tc), (b + u) * tc / (tb + tc)
            s += ((b - eb) ** 2 / eb if eb > 0 else 0) \
                + ((u - ec) ** 2 / ec if ec > 0 else 0)
        assert out["3"]["chi2"] == round(s, 4)
        dof = out["3"]["dof"]
        assert dof % 2 == 0
        h = out["3"]["chi2"] / 2
        surv = math.exp(-h) * sum(h ** j / math.factorial(j)
                                  for j in range(dof // 2))
        assert out["3"]["p"] == pytest.approx(round(surv, 9), abs=1e-12)

    def test_bh_stepup_arithmetic_and_null_passthrough(self, spark):
        """Hand-checkable BH: p=(.01,.02,.04,.60) at n=4 adjusts to
        (.04,.04,.0533.., .60); NULL p-values pass through unadjusted,
        never rejected, and don't count toward n."""
        from spark_expectations_spark.operators import drift
        rows = [("a", 0.01), ("b", 0.02), ("c", 0.04), ("d", 0.60),
                ("e", None)]
        df = spark.createDataFrame(rows, "k string, p double")
        got = {r["k"]: (r["p_adj"], r["rejected"]) for r in
               drift.fdr_bh(df, "p", alpha=0.05,
                            tiebreak_cols=("k",)).collect()}
        assert got["a"] == (pytest.approx(0.04), True)
        assert got["b"] == (pytest.approx(0.04), True)
        assert got["c"] == (pytest.approx(0.04 * 4 / 3), False)
        assert got["d"] == (pytest.approx(0.60), False)
        assert got["e"] == (None, False)
        import pytest as _pytest
        with _pytest.raises(ValueError, match="alpha"):
            drift.fdr_bh(df, "p", alpha=1.5)

    def test_ks_by_segment_detects_shift_and_one_sided_null(self, spark):
        """Per-segment KS: the shifted segment's D dominates, identical
        segments read ~0, and a segment present on only one side
        yields NULL ks (one-sided KS is undefined) which ks_pvalue
        passes through as NULL, never a confident 1.0."""
        from spark_expectations_spark.operators import drift
        edges = [float(e) for e in range(0, 101, 10)]
        base = spark.range(0, 900).selectExpr(
            "id % 3 as seg", "cast(id % 100 as double) as v")
        cur = spark.range(0, 900).selectExpr(
            "id % 3 as seg",
            "cast(if(id % 3 = 1, 50 + (id % 50), id % 100) as double) as v"
        ).unionByName(
            spark.range(0, 10).selectExpr(
                "99 as seg", "cast(id as double) as v"))
        per = drift.ks_by_segment(base, cur, "v", "seg", edges=edges)
        got = {r["segment"]: r for r in per.withColumn(
            "p", drift.ks_pvalue("ks", "n_base", "n_cur")).collect()}
        assert got["1"]["ks"] > 0.4 > got["0"]["ks"]
        assert got["2"]["ks"] == got["0"]["ks"]  # same construction
        assert got["99"]["ks"] is None and got["99"]["p"] is None
        assert got["1"]["p"] < 1e-6 and got["0"]["p"] > 0.5

    def test_ks_pvalue_series_and_bounds(self, spark):
        """The truncated Kolmogorov series matches an independent
        math.exp evaluation (including the Stephens correction), hits
        the known Q_KS(1) ≈ 0.27 landmark, and respects bounds:
        D=0 → p=1, huge D → p=0, monotone decreasing in D."""
        import math
        from spark_expectations_spark.operators import drift
        rows = [(0.0, 200, 200), (0.05, 200, 200), (0.0987, 200, 200),
                (0.2, 200, 200), (0.9, 200, 200)]
        df = spark.createDataFrame(rows, "d double, nb long, nc long")
        got = [r["p"] for r in df.select(
            drift.ks_pvalue("d", "nb", "nc").alias("p")).collect()]

        def ref(d, nb, nc):
            ne = nb * nc / (nb + nc)
            lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
            if lam <= 0:
                return 1.0
            s = sum((-1) ** (j - 1) * math.exp(-2 * j * j * lam * lam)
                    for j in range(1, 51))
            return round(max(0.0, min(1.0, 2 * s)), 9)

        for (d, nb, nc), g in zip(rows, got):
            assert g == pytest.approx(ref(d, nb, nc), abs=1e-12), d
        assert got[0] == 1.0 and got[-1] == 0.0
        assert got == sorted(got, reverse=True)  # monotone in D
        # λ for the 0.0987 row is ~1.0 -> the Q_KS(1) ≈ 0.27 landmark
        assert got[2] == pytest.approx(0.27, abs=0.01)
        import pytest as _pytest
        with _pytest.raises(ValueError, match="terms"):
            drift.ks_pvalue("d", "nb", "nc", terms=0)

    def test_bool_dof_is_rejected_on_both_paths(self, spark):
        """A bool is not a degree of freedom: the SQL fast path (string
        chi2) rejects it as the Column path does, instead of comparing
        ``dof = true``."""
        import pytest as _pytest
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import drift
        for chi2 in ("chi2", F.col("chi2")):
            with _pytest.raises(TypeError):
                drift.chi2_pvalue(chi2, True)

    def test_odd_dof_yields_null_pvalue(self, spark):
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import drift
        df = spark.createDataFrame([(5.0, 3), (5.0, 4), (5.0, 99)],
                                   "chi2 double, dof int")
        got = [r["p"] for r in df.select(
            drift.chi2_pvalue("chi2", "dof", max_dof=40).alias("p"))
            .collect()]
        assert got[0] is None and got[2] is None
        assert got[1] is not None


class TestChi2PvalueSqlCase:
    """r16: chi2_pvalue builds its even-dof CASE chain as one SQL
    string for string/int column refs (the Column-op loop cost ~1.5k
    py4j round trips at max_dof=40). Pin bit-equality against the
    Column-loop reference across the dof range and the edges."""

    @staticmethod
    def _ref(chi2_col, dof_col, *, max_dof=40, digits=9):
        import math
        x = F.col(chi2_col) if isinstance(chi2_col, str) else chi2_col
        d = F.col(dof_col) if isinstance(dof_col, str) else dof_col
        half = x / F.lit(2.0)
        expr = F.lit(None).cast("double")
        for dof in range(2, max_dof + 1, 2):
            s = F.lit(0.0)
            for jj in range(dof // 2):
                s = s + F.pow(half, F.lit(float(jj))) \
                    / F.lit(float(math.factorial(jj)))
            expr = F.when(d == dof, F.exp(-half) * s).otherwise(expr)
        return F.round(expr, digits) + F.lit(0.0)

    def test_bit_equal_to_column_loop(self, spark):
        from spark_expectations_spark.operators.drift import chi2_pvalue
        rng = random.Random(11)
        rows = [(rng.random() * 80.0,
                 rng.choice([1, 2, 3, 4, 6, 8, 20, 38, 40, 41, 42, 0]))
                for _ in range(1500)] + [(0.0, 2), (None, 4), (5.0, None)]
        df = spark.createDataFrame(rows, "chi2 double, dof int")
        both = df.select(self._ref("chi2", "dof").alias("o"),
                         chi2_pvalue("chi2", "dof").alias("n"),
                         self._ref("chi2", F.lit(8)).alias("o8"),
                         chi2_pvalue("chi2", 8).alias("n8"))
        assert both.filter(~F.col("o").eqNullSafe(F.col("n"))).count() == 0
        assert both.filter(~F.col("o8").eqNullSafe(F.col("n8"))).count() == 0


class TestChi2PvalueIntDof:
    def test_column_chi2_with_int_dof(self, spark):
        # Column chi2 + int dof used to fall into the Column loop with a
        # plain-int d, raising TypeError from F.when(bool, ...)
        df = spark.createDataFrame([(2.0,), (10.0,)], "x double")
        got = [r["p"] for r in
               df.select(drift.chi2_pvalue(F.col("x") * 1.0, 8)
                         .alias("p")).collect()]
        # survival of chi2 at dof 8: exp(-x/2) * sum_{j<4} (x/2)^j / j!
        for x, p in zip([2.0, 10.0], got):
            h = x / 2.0
            want = math.exp(-h) * sum(h ** j / math.factorial(j)
                                      for j in range(4))
            assert p == pytest.approx(want, abs=1e-9)

    def test_matches_sql_fast_path(self, spark):
        df = spark.createDataFrame([(3.5, 4), (7.0, 6)], "x double, d int")
        fast = [r["p"] for r in
                df.select(drift.chi2_pvalue("x", "d").alias("p")).collect()]
        slow = [r["p"] for r in
                df.select(drift.chi2_pvalue(F.col("x"), F.col("d"))
                          .alias("p")).collect()]
        assert fast == slow


class TestDriftReport:
    def test_matches_single_column_operators(self, spark):
        """One-job sweep == the three proven single-column operators,
        per column, bit-for-bit."""
        from spark_expectations_spark.operators import drift
        base = spark.createDataFrame(
            [(float(i % 50), float(i % 7)) for i in range(200)],
            "a double, b double")
        cur = spark.createDataFrame(
            [(float((i + 13) % 50), float(i % 11)) for i in range(180)],
            "a double, b double")
        edges = {"a": [10.0, 20.0, 30.0, 40.0], "b": [2.0, 5.0, 8.0]}
        rep = {r["column"]: r for r in drift.drift_report(
            base, cur, edges).collect()}
        for c in edges:
            assert rep[c]["psi"] == pytest.approx(
                drift.psi_with_edges(base, cur, c,
                                     edges[c]).first()["psi"])
            assert rep[c]["ks"] == pytest.approx(
                drift.ks_statistic(base, cur, c,
                                   edges[c]).first()["ks"])
            assert rep[c]["jsd"] == pytest.approx(
                drift.js_divergence(base, cur, c,
                                    edges[c]).first()["jsd"])
            assert (rep[c]["n_base"], rep[c]["n_cur"]) == (200, 180)
            # the four share one core: pin them to a reference that
            # does not, computed over the collected rows
            want = _binned_drift_reference(
                [r[c] for r in base.collect()],
                [r[c] for r in cur.collect()], edges[c])
            for stat in ("psi", "ks", "jsd", "n_base", "n_cur"):
                assert rep[c][stat] == pytest.approx(want[stat]), (c, stat)
            assert drift.psi_with_edges(base, cur, c, edges[c]).first()[
                "n_buckets_compared"] == want["n_buckets"]

    def test_drop_nulls_matches_python_reference(self, spark):
        """drop_nulls=True: NULLs leave both the histogram and the
        counts, on both sides, in the sweep and in the single-column
        operators alike."""
        base = spark.createDataFrame(
            [(None if i % 9 == 0 else float(i % 50),) for i in range(200)],
            "a double")
        cur = spark.createDataFrame(
            [(None if i % 4 == 0 else float((i + 13) % 50),)
             for i in range(180)], "a double")
        edges = [10.0, 20.0, 30.0, 40.0]
        want = _binned_drift_reference(
            [r["a"] for r in base.collect() if r["a"] is not None],
            [r["a"] for r in cur.collect() if r["a"] is not None], edges)
        rep = drift.drift_report(base, cur, {"a": edges},
                                 drop_nulls=True).first()
        ks = drift.ks_statistic(base, cur, "a", edges,
                                drop_nulls=True).first()
        jsd = drift.js_divergence(base, cur, "a", edges,
                                  drop_nulls=True).first()
        assert (rep["n_base"], rep["n_cur"]) == (177, 135)
        for stat in ("psi", "ks", "jsd", "n_base", "n_cur"):
            assert rep[stat] == pytest.approx(want[stat]), stat
        assert ks["ks"] == pytest.approx(want["ks"])
        assert jsd["jsd"] == pytest.approx(want["jsd"])
        assert (ks["n_base"], ks["n_cur"]) == (177, 135)

    def test_ks_by_segment_matches_python_reference(self, spark):
        """Per segment (NULL segment included, one segment present on
        one side only): the reference over that segment's rows."""
        rows_b = [(["x", "y", None][i % 3], float(i % 50))
                  for i in range(200)]
        rows_c = [(["x", "y", "z"][i % 3], float((i + 13) % 50))
                  for i in range(180)]
        base = spark.createDataFrame(rows_b, "s string, a double")
        cur = spark.createDataFrame(rows_c, "s string, a double")
        edges = [10.0, 20.0, 30.0, 40.0]
        got = {r["segment"]: r for r in drift.ks_by_segment(
            base, cur, "a", "s", edges=edges).collect()}
        assert set(got) == {"x", "y", "z", "__null__"}
        for seg in ("x", "y"):
            want = _binned_drift_reference(
                [a for s, a in rows_b if s == seg],
                [a for s, a in rows_c if s == seg], edges)
            assert got[seg]["ks"] == pytest.approx(want["ks"]), seg
            assert (got[seg]["n_base"], got[seg]["n_cur"]) == (
                want["n_base"], want["n_cur"])
        # one-sided segments: NULL ks, counts kept
        assert got["z"]["ks"] is None and got["z"]["n_base"] == 0
        assert got["__null__"]["ks"] is None
        assert got["__null__"]["n_cur"] == 0

    def test_null_column_yields_null_stats_not_failure(self, spark):
        """drop_nulls + an all-NULL column on one side: that column
        reports NULL statistics; the other columns still compute."""
        from spark_expectations_spark.operators import drift
        base = spark.createDataFrame(
            [(1.0, None), (2.0, None)], "a double, b double")
        cur = spark.createDataFrame(
            [(1.5, 1.0), (2.5, 2.0)], "a double, b double")
        rep = {r["column"]: r for r in drift.drift_report(
            base, cur, {"a": [2.0], "b": [1.5]},
            drop_nulls=True).collect()}
        assert rep["b"]["psi"] is None and rep["b"]["ks"] is None
        assert rep["a"]["psi"] is not None
        with pytest.raises(ValueError, match="non-empty"):
            drift.drift_report(base, cur, {})


def _binned_drift_reference(base, cur, edges):
    """Pure-Python binned drift of two value lists: each value goes to
    bucket ``#edges <= x`` (None to 0); then the PSI with both
    proportions floored at 1e-6, the largest gap between the two
    cumulative distributions, and Jensen-Shannon with natural logs."""
    def hist(vals):
        h = [0] * (len(edges) + 1)
        for x in vals:
            h[0 if x is None else sum(x >= e for e in edges)] += 1
        return h

    hb, hc = hist(base), hist(cur)
    nb, nc = len(base), len(cur)
    psi = ks = jsd = 0.0
    cb = cc = 0
    for b, c in zip(hb, hc):
        p, q = b / nb, c / nc
        pe, qe = max(p, 1e-6), max(q, 1e-6)
        psi += (pe - qe) * math.log(pe / qe)
        cb, cc = cb + b, cc + c
        ks = max(ks, abs(cb / nb - cc / nc))
        m = (p + q) / 2
        jsd += (p * math.log(p / m) if p else 0.0) \
            + (q * math.log(q / m) if q else 0.0)
    return {"psi": psi, "ks": ks, "jsd": jsd / 2, "n_base": nb,
            "n_cur": nc, "n_buckets": sum(1 for b, c in zip(hb, hc)
                                          if b or c)}


class TestBinnedDriftCore:
    """psi_with_edges, ks_statistic and js_divergence are projections of
    drift_report's histogram and combine: one empty-side rule and no
    more exchanges than the sweep."""

    def _frames(self, spark):
        base = spark.createDataFrame(
            [(float(i % 50),) for i in range(200)], "a double")
        cur = spark.createDataFrame(
            [(float((i + 13) % 50),) for i in range(180)], "a double")
        return base, cur, [10.0, 20.0, 30.0, 40.0]

    def test_psi_with_edges_raises_on_an_empty_side(self, spark):
        base, _, edges = self._frames(spark)
        empty = base.filter("a > 1000")
        for b, c in ((base, empty), (empty, base), (empty, empty)):
            with pytest.raises(Exception, match="empty sample"):
                drift.psi_with_edges(b, c, "a", edges).collect()

    @pytest.mark.parametrize("op", ["psi", "categorical_psi"])
    def test_aligned_psi_raises_on_an_empty_side(self, spark, op):
        """The width-bucket and categorical PSI follow the same rule:
        without it the ε clamp turned a missing side into a finite PSI
        that only the clamp produces."""
        base, _, _ = self._frames(spark)
        base = base.withColumn("s", F.col("a").cast("int") % 7)
        empty = base.filter("a > 1000")
        run = {"psi": lambda b, c: drift.psi(b, c, "a", lo=0, hi=50,
                                             bins=5),
               "categorical_psi": lambda b, c: drift.categorical_psi(
                   b, c, "s")}[op]
        assert run(base, base).first()["psi"] == pytest.approx(0.0)
        for b, c in ((base, empty), (empty, base), (empty, empty)):
            with pytest.raises(Exception, match="empty sample"):
                run(b, c).collect()

    @pytest.mark.parametrize("op", ["ks_statistic", "js_divergence"])
    def test_both_sides_empty_raises(self, spark, op):
        """A keyed groupBy over no rows yields no row; the single-column
        path must still produce its one guarded row, and raise."""
        base, _, edges = self._frames(spark)
        empty = base.filter("a > 1000")
        with pytest.raises(Exception, match="empty sample"):
            getattr(drift, op)(empty, empty, "a", edges).collect()

    def test_sweep_keeps_null_statistics_on_an_empty_side(self, spark):
        base, _, edges = self._frames(spark)
        empty = base.filter("a > 1000")
        r = drift.drift_report(base, empty, {"a": edges}).first()
        assert (r["psi"], r["ks"], r["jsd"]) == (None, None, None)
        assert (r["n_base"], r["n_cur"]) == (200, 0)

    def test_single_column_plans_no_more_exchanges_than_the_sweep(
            self, spark):
        from spark_expectations_spark import plans
        base, cur, edges = self._frames(spark)
        sweep = plans.num_exchanges(
            drift.drift_report(base, cur, {"a": edges}))
        for op in (drift.psi_with_edges, drift.ks_statistic,
                   drift.js_divergence):
            n = plans.num_exchanges(op(base, cur, "a", edges))
            assert n <= sweep, (op.__name__, n, sweep)


class TestDriftVerdict:
    def test_bands_and_ks_rejection(self, spark):
        from spark_expectations_spark.operators import drift
        # identical halves -> pass; shifted -> verdicts escalate
        stable = spark.createDataFrame(
            [(float(i % 40),) for i in range(400)], "v double")
        shifted = spark.createDataFrame(
            [(float(i % 40) + 25.0,) for i in range(400)], "v double")
        edges = {"v": [10.0, 20.0, 30.0, 40.0, 50.0]}
        ok = drift.drift_verdict(
            drift.drift_report(stable, stable, edges)).first()
        assert (ok["verdict"], ok["ks_reject"]) == ("pass", False)
        bad = drift.drift_verdict(
            drift.drift_report(stable, shifted, edges)).first()
        assert bad["verdict"] == "fail" and bad["ks_reject"]
        assert bad["ks"] > bad["ks_critical"]
        # jsd bound alone can fail a column
        j = drift.drift_verdict(
            drift.drift_report(stable, shifted, edges),
            psi_warn=1e9, psi_fail=1e9, ks_alpha=1e-12,
            jsd_fail=0.01).first()
        assert j["verdict"] == "fail"

    def test_null_stats_keep_null_verdict(self, spark):
        from spark_expectations_spark.operators import drift
        base = spark.createDataFrame([(1.0, None), (2.0, None)],
                                     "a double, b double")
        cur = spark.createDataFrame([(1.5, 1.0)], "a double, b double")
        rep = drift.drift_report(base, cur, {"a": [2.0], "b": [1.5]},
                                 drop_nulls=True)
        got = {r["column"]: r["verdict"]
               for r in drift.drift_verdict(rep).collect()}
        assert got["b"] is None and got["a"] in ("pass", "warn", "fail")


class TestHistogramSnapshot:
    def test_snapshot_path_matches_direct_and_merges_increments(
            self, spark, tmp_path):
        """drift_from_snapshot(persisted baseline) == drift_report on
        the raw frames, and two half-snapshots appended to the same
        table merge to the full baseline."""
        from spark_expectations_spark.operators import drift
        base = spark.createDataFrame(
            [(float(i % 50), float(i % 7)) for i in range(200)],
            "a double, b double")
        cur = spark.createDataFrame(
            [(float((i + 13) % 50), float(i % 11)) for i in range(180)],
            "a double, b double")
        edges = {"a": [10.0, 20.0, 30.0, 40.0], "b": [2.0, 5.0, 8.0]}
        path = str(tmp_path / "hist")
        h1 = drift.histogram_snapshot(
            base.limit(90), edges)            # first increment
        h2 = drift.histogram_snapshot(
            base.subtract(base.limit(90)), edges)
        h1.write.mode("append").parquet(path)
        h2.write.mode("append").parquet(path)
        via_snap = {r["column"]: r for r in drift.drift_from_snapshot(
            spark.read.parquet(path), cur, edges).collect()}
        direct = {r["column"]: r for r in drift.drift_report(
            base, cur, edges).collect()}
        for c in edges:
            for stat in ("psi", "ks", "jsd", "n_base", "n_cur"):
                assert via_snap[c][stat] == pytest.approx(
                    direct[c][stat]), (c, stat)
        with pytest.raises(ValueError, match="non-empty"):
            drift.histogram_snapshot(base, {})


class TestJsDivergence:
    EDGES = [float(e) for e in range(10, 100, 10)]

    def _df(self, spark, vals):
        return spark.createDataFrame([(float(v),) for v in vals],
                                     "x double")

    def test_identical_zero_disjoint_ln2_symmetric(self, spark):
        import math

        from spark_expectations_spark.operators import drift
        a = self._df(spark, range(0, 100))
        assert drift.js_divergence(a, a, "x", self.EDGES) \
            .first()["jsd"] == pytest.approx(0.0)
        lo = self._df(spark, range(0, 10))      # bucket 0 only
        hi = self._df(spark, range(90, 100))    # top bucket only
        d1 = drift.js_divergence(lo, hi, "x", self.EDGES).first()["jsd"]
        assert d1 == pytest.approx(math.log(2))  # the JSD upper bound
        d2 = drift.js_divergence(hi, lo, "x", self.EDGES).first()["jsd"]
        assert d2 == pytest.approx(d1)           # symmetry

    def test_partial_overlap_matches_scipy_formula(self, spark):
        import math

        from spark_expectations_spark.operators import drift
        base = self._df(spark, [5] * 3 + [15] * 1)   # p = (.75, .25)
        cur = self._df(spark, [5] * 1 + [15] * 3)    # q = (.25, .75)
        got = drift.js_divergence(base, cur, "x",
                                  [10.0]).first()["jsd"]

        def term(p, q):
            m = (p + q) / 2
            return p * math.log(p / m)
        want = 0.5 * (term(.75, .25) + term(.25, .75)
                      + term(.25, .75) + term(.75, .25))
        assert got == pytest.approx(want)
        # bounded strictly between 0 and ln 2 on partial overlap
        assert 0 < got < math.log(2)

    def test_empty_side_raises(self, spark):
        from spark_expectations_spark.operators import drift
        base = self._df(spark, range(0, 50))
        empty = base.filter("x > 1000")
        with pytest.raises(Exception, match="empty sample"):
            drift.js_divergence(base, empty, "x", self.EDGES).collect()


class TestKsStatistic:
    EDGES = [float(e) for e in range(10, 100, 10)]

    def _df(self, spark, vals):
        return spark.createDataFrame([(float(v),) for v in vals],
                                     "x double")

    def test_identical_zero_disjoint_one(self, spark):
        from spark_expectations_spark.operators import drift
        a = self._df(spark, range(0, 100))
        assert drift.ks_statistic(a, a, "x", self.EDGES) \
            .first()["ks"] == pytest.approx(0.0)
        lo = self._df(spark, range(0, 30))      # all below edge 30
        hi = self._df(spark, range(70, 100))    # all at/above edge 70
        r = drift.ks_statistic(lo, hi, "x", self.EDGES).first()
        assert r["ks"] == pytest.approx(1.0)
        assert (r["n_base"], r["n_cur"]) == (30, 30)

    def test_empty_side_raises_clearly(self, spark):
        """Review fix: an empty baseline/current used to surface as an
        opaque ANSI DIVIDE_BY_ZERO from generated code."""
        from spark_expectations_spark.operators import drift
        base = self._df(spark, range(0, 50))
        empty = base.filter("x > 1000")
        with pytest.raises(Exception, match="empty sample"):
            drift.ks_statistic(base, empty, "x", self.EDGES).collect()
        with pytest.raises(Exception, match="empty sample"):
            drift.ks_statistic(empty, base, "x", self.EDGES).collect()

    def test_known_shift(self, spark):
        """base uniform 0..99, cur uniform 20..119: at edge 20 CDFs are
        0.2 vs 0.0 — the max grid gap is exactly 0.2."""
        from spark_expectations_spark.operators import drift
        base = self._df(spark, range(0, 100))
        cur = self._df(spark, range(20, 120))
        r = drift.ks_statistic(base, cur, "x", self.EDGES).first()
        assert r["ks"] == pytest.approx(0.2)

    def test_drop_nulls_excludes_nulls_from_statistic(self, spark):
        """ADVICE r6: by default NULLs fold into bucket 0 (documented
        convention, oracle-consistent); drop_nulls=True excludes them —
        here identical non-null sides plus NULLs on one side read as
        drifted by default and identical with drop_nulls."""
        from spark_expectations_spark.operators import drift
        base = self._df(spark, range(0, 100))
        nulls = spark.createDataFrame([(None,)] * 50, "x double")
        cur = base.unionByName(nulls)
        # max gap is at bucket 0: cur (10 + 50 nulls)/150 vs base 10/100
        r_def = drift.ks_statistic(base, cur, "x", self.EDGES).first()
        assert r_def["ks"] == pytest.approx(60 / 150 - 10 / 100)
        assert r_def["n_cur"] == 150        # NULLs counted, bucket 0
        r_drop = drift.ks_statistic(
            base, cur, "x", self.EDGES, drop_nulls=True).first()
        assert r_drop["ks"] == pytest.approx(0.0)
        assert (r_drop["n_base"], r_drop["n_cur"]) == (100, 100)


class TestNormalizeText:
    def _one(self, spark, s, **kw):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame([(s,)], "t string")
        return df.select(T.normalize_text(F.col("t"), **kw).alias("n")) \
            .first()["n"]

    def test_full_pipeline_known_value(self, spark):
        raw = "  Hello\t\tWorld \n\n\n\nnext\x00\x07 line\r\nlast   "
        got = self._one(spark, raw)
        # control chars deleted, CRLF folded, tabs/spaces collapsed,
        # trailing spaces before \n dropped, >=2 newlines capped at 2,
        # edges trimmed
        assert got == "Hello World\n\nnext line\nlast"

    def test_lowercase_and_blank_line_cap(self, spark):
        got = self._one(spark, "A\n\n\n\n\nB", lowercase=True,
                        max_blank_lines=0)
        assert got == "a\nb"

    def test_toggles_off_is_identity(self, spark):
        raw = "  A\t B \n\n\n C "
        got = self._one(spark, raw, strip_control=False,
                        collapse_spaces=False, max_blank_lines=-1,
                        trim=False)
        assert got == raw

    def test_null_in_null_out(self, spark):
        assert self._one(spark, None) is None


class TestCompressionRatio:
    def test_differential_vs_zlib_and_signal_direction(self, spark):
        """Ratios match a direct zlib call byte-for-byte; repetitive
        text compresses far better than high-entropy text (the signal
        both gate tails rely on); NULL/empty yield NULL."""
        import zlib
        from spark_expectations_spark.operators import text as T
        rows = [(1, "spam spam spam " * 50),
                (2, "9f8a7c1e" * 2 + "Zq3!xVb7Lk0@mN5#pR8$wT2%yU6^"),
                (3, None), (4, "")]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {r["id"]: (r["n_bytes"], r["compression_ratio"])
               for r in T.compression_ratio(df, "id", "text").collect()}
        for i, t in rows[:2]:
            raw = t.encode("utf-8")
            want = len(zlib.compress(raw, 6)) / len(raw)
            assert got[i] == (len(raw), pytest.approx(want, abs=0)), i
        assert got[1][1] < 0.1 < got[2][1]   # repetitive << entropy
        assert got[3] == (None, None)
        assert got[4] == (0, None)
        import pytest as _pytest
        with _pytest.raises(ValueError, match="level"):
            T.compression_ratio(df, "id", "text", level=0)

    def test_non_long_id_columns_pass_through(self, spark):
        """The id column's type must ride through the Arrow schema —
        a hardcoded LongType crashed string/int doc ids."""
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [("u1", "aaa bbb aaa"), ("u2", "ccc")],
            "url string, text string")
        got = {r["url"]: r["n_bytes"] for r in
               T.compression_ratio(df, "url", "text").collect()}
        assert got == {"u1": 11, "u2": 3}


class TestBpe:
    def test_hand_computed_merge_order(self, spark):
        """'aa'×3 + 'ab'×2 corpus: every merge and tiebreak is
        hand-checkable ((a,</w>) beats (a,a) on the lexicographic
        tie at count 3, then (a,a</w>), then (a,b) beats (b,</w>),
        then (ab,</w>))."""
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [("aa ab aa",), ("aa ab",)], "t string")
        merges = T.train_bpe_merges(df, "t", num_merges=10, min_count=1)
        assert merges == [("a", "</w>"), ("a", "a</w>"),
                          ("a", "b"), ("ab", "</w>")]

    def test_encode_known_and_unseen_words(self, spark):
        from spark_expectations_spark.operators import text as T
        train = spark.createDataFrame(
            [("aa ab aa",), ("aa ab",)], "t string")
        merges = T.train_bpe_merges(train, "t", num_merges=10,
                                    min_count=1)
        df = spark.createDataFrame(
            [(1, "aa ab"), (2, "ba"), (3, None)],
            "doc_id long, t string")
        got = {r["doc_id"]: (r["bpe_tokens"], r["n_bpe_tokens"])
               for r in T.apply_bpe(df, "doc_id", "t",
                                    merges).collect()}
        assert got[1] == (["aa</w>", "ab</w>"], 2)
        # unseen word falls back through learned ranks: (a,</w>) is
        # rank 0, (b, a</w>) was never learned
        assert got[2] == (["b", "a</w>"], 2)
        assert got[3] == (None, None)

    def test_corpus_scale_merges_compress_frequent_words(self, spark):
        from spark_expectations_spark.operators import text as T
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        merges = T.train_bpe_merges(docs, "text", num_merges=60,
                                    min_count=5, max_vocab=2000)
        assert len(merges) == 60
        top_word = (docs.select(F.explode(F.split(
            F.trim(F.lower("text")), r"\s+")).alias("w"))
            .groupBy("w").count()
            .orderBy(F.desc("count")).first()["w"])
        enc = T.apply_bpe(
            spark.createDataFrame([(1, top_word)], "doc_id long, t string"),
            "doc_id", "t", merges).first()
        assert enc["n_bpe_tokens"] == 1      # most frequent word fused
        # encoding is lossless modulo the end-of-word marker
        assert "".join(enc["bpe_tokens"]).replace("</w>", "") == top_word


class TestStripHtml:
    def _one(self, spark, s, **kw):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame([(s,)], "t string")
        return df.select(T.strip_html(F.col("t"), **kw).alias("s")) \
            .first()["s"]

    def test_blocks_comments_tags_entities(self, spark):
        html = ('<head><style>p{}</style><SCRIPT a="b">evil()</script>'
                '</head><body><!-- note --><p>A &amp; B</p>'
                '<div>C<br>D</div>&lt;E&gt;</body>')
        got = self._one(spark, html)
        # script/style CONTENT gone, comment gone, structure -> \n,
        # entities decoded, no tags remain
        assert "evil" not in got and "p{}" not in got
        assert "note" not in got and "<" not in got.replace("<E>", "")
        assert "A & B" in got and "<E>" in got
        assert "C" in got and "\n" in got

    def test_block_case_and_attrs(self, spark):
        got = self._one(
            spark, '<STYLE media="x">z</style>keep<NOSCRIPT>n</noscript>')
        assert got.strip() == "keep"
        # keep a block's content when it is not in drop_blocks
        got2 = self._one(spark, "<style>z</style>keep",
                         drop_blocks=("script",))
        assert "z" in got2 and "keep" in got2

    def test_entities_toggle_and_null(self, spark):
        raw = "<p>A &amp; B</p>"
        assert "&amp;" in self._one(spark, raw, decode_entities=False)
        assert self._one(spark, None) is None


class TestC4Filter:
    DOC = ("This is a good first sentence.\n"
           "tiny.\n"
           "no terminal punctuation here at all\n"
           "Please enable JavaScript to continue.\n"
           "We updated our Privacy Policy today.\n"
           "Another perfectly fine sentence!\n"
           'He said "stop right there."\n'
           "- Home | About | Contact")

    def _flags(self, spark, text, **kw):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame([(1, text)], "doc_id long, t string")
        return T.c4_document_flags(df, "doc_id", "t", **kw).first()

    def test_line_rules_each_fire(self, spark):
        r = self._flags(spark, self.DOC)
        assert r["n_lines"] == 8
        # survivors: sentence 1, sentence 6, the quoted line 7
        assert r["n_kept_lines"] == 3
        assert r["kept_text"] == (
            "This is a good first sentence.\n"
            "Another perfectly fine sentence!\n"
            'He said "stop right there."')
        assert r["n_sentences"] == 3
        assert not r["has_lorem_ipsum"] and not r["has_curly_brace"]
        assert not r["passes"]          # default min_sentences=5

    def test_document_rules(self, spark):
        lorem = self._flags(
            spark, "Lorem ipsum dolor sit amet sentence one.",
            min_sentences=1)
        assert lorem["has_lorem_ipsum"] and not lorem["passes"]
        brace = self._flags(
            spark, "Valid sentence with code leak { inside.",
            min_sentences=1)
        assert brace["has_curly_brace"] and not brace["passes"]
        # ADVICE r8: the C4 recipe drops pages with ANY curly bracket —
        # a page containing only '}' must fail too
        close_only = self._flags(
            spark, "Valid sentence with stray } closer.",
            min_sentences=1)
        assert close_only["has_curly_brace"] and not close_only["passes"]
        ok = self._flags(spark, "One good sentence stands here.",
                         min_sentences=1)
        assert ok["passes"] and ok["n_sentences"] == 1

    def test_line_filter_column_and_null(self, spark):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [(self.DOC,), (None,)], "t string")
        got = [r["k"] for r in df.select(
            T.c4_line_filter(F.col("t")).alias("k")).collect()]
        assert got[0].count("\n") == 2 and got[0].endswith('there."')
        assert got[1] is None

    def test_min_words_and_punct_toggles(self, spark):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [("one two\nno punct line here",)], "t string")
        relaxed = df.select(T.c4_line_filter(
            F.col("t"), min_words=2,
            require_terminal_punct=False).alias("k")).first()["k"]
        assert relaxed == "one two\nno punct line here"
        strict = df.select(
            T.c4_line_filter(F.col("t")).alias("k")).first()["k"]
        assert strict == ""


class TestInterleaveSources:
    def test_prefix_rates_track_weights_and_positions_dense(self, spark):
        from collections import Counter

        from spark_expectations_spark.operators import sampling
        rows = [(i, "a" if i < 300 else "b") for i in range(600)]
        df = spark.createDataFrame(rows, "k long, src string") \
            .repartition(7)
        out = sampling.interleave_sources(
            df, "k", "src", {"a": 3.0, "b": 1.0}, num_buckets=8)
        got = sorted((r["mix_pos"], r["src"]) for r in out.collect())
        assert [p for p, _ in got] == list(range(600))   # dense 0..n-1
        # long-run rate in the first quarter ≈ 3:1 (u is uniform md5)
        head = Counter(s for _, s in got[:150])
        assert head["a"] / 150 > 0.6
        # every 'a' exhausts before the final stretch is all-'b'
        tail = Counter(s for _, s in got[-100:])
        assert tail["b"] > tail.get("a", 0)

    def test_deterministic_and_validation(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "k long, src string")
        w = {"a": 1.0, "b": 1.0}
        p1 = sorted((r["k"], r["mix_pos"]) for r in
                    sampling.interleave_sources(df, "k", "src",
                                                w).collect())
        p2 = sorted((r["k"], r["mix_pos"]) for r in
                    sampling.interleave_sources(
                        df.repartition(5), "k", "src", w).collect())
        assert p1 == p2                       # partition-invariant
        import pytest as _pytest
        with _pytest.raises(ValueError, match="non-empty"):
            sampling.interleave_sources(df, "k", "src", {})
        with _pytest.raises(ValueError, match="must be > 0"):
            sampling.interleave_sources(df, "k", "src",
                                        {"a": 0, "b": 1})
        with _pytest.raises(Exception, match="no weight for source"):
            sampling.interleave_sources(df, "k", "src",
                                        {"a": 1.0}).collect()


class TestCurriculumOrder:
    def test_stages_ascend_with_score_and_seed_reshuffles_within(
            self, spark):
        from spark_expectations_spark.operators import sampling
        rows = [(i, i) for i in range(40)]            # score == id
        df = spark.createDataFrame(rows, "k long, s long").repartition(5)
        a = sampling.curriculum_order(df, "k", "s", num_shards=4,
                                      seed=1).collect()
        by_k = {r["k"]: r for r in a}
        # quartile stages: scores 0..39, boundary-to-upper
        for k in range(40):
            expect_stage = (int(k >= 9.75) + int(k >= 19.5)
                            + int(k >= 29.25))
            assert by_k[k]["stage"] == expect_stage, k
        # monotone: every stage-1 score > every stage-0 score
        s0 = max(r["s"] for r in a if r["stage"] == 0)
        s1 = min(r["s"] for r in a if r["stage"] == 1)
        assert s0 < s1
        # pos dense per (stage, shard)
        from collections import defaultdict
        cells = defaultdict(list)
        for r in a:
            cells[(r["stage"], r["shard"])].append(r["pos"])
        for ps in cells.values():
            assert sorted(ps) == list(range(len(ps)))
        # a different seed moves order WITHIN stages, never across
        b = {r["k"]: r for r in sampling.curriculum_order(
            df, "k", "s", num_shards=4, seed=2).collect()}
        assert all(b[k]["stage"] == by_k[k]["stage"] for k in b)
        assert any((b[k]["shard"], b[k]["pos"])
                   != (by_k[k]["shard"], by_k[k]["pos"]) for k in b)

    def test_partition_invariance(self, spark):
        from spark_expectations_spark.operators import sampling
        rows = [(i, (i * 13) % 50) for i in range(60)]
        df1 = spark.createDataFrame(rows, "k long, s long")
        df2 = spark.createDataFrame(
            list(reversed(rows)), "k long, s long").repartition(9)
        pick = lambda df: sorted(  # noqa: E731
            (r["k"], r["stage"], r["shard"], r["pos"])
            for r in sampling.curriculum_order(
                df, "k", "s", num_shards=4).collect())
        assert pick(df1) == pick(df2)


class TestPaddingWaste:
    def test_known_buckets_and_waste(self, spark):
        from spark_expectations_spark.operators import packing
        df = spark.createDataFrame(
            [(1, 5), (2, 8), (3, 10), (4, 30), (5, None)],
            "doc_id long, w int")
        got = {r["bucket"]: r for r in packing.padding_waste_report(
            df, "w", [10, 20]).collect()}
        # bucket 0: (-inf,10] holds 5,8,10 -> pad to 10: 5+2+0=7
        b0 = got[0]
        assert (b0["lo"], b0["hi"]) == (None, 10)
        assert (b0["n_docs"], b0["sum_tokens"], b0["max_tokens"]) \
            == (3, 23, 10)
        assert b0["padded_tokens"] == 7
        assert b0["waste_frac"] == pytest.approx(7 / 30, abs=1e-6)
        # bucket 2: (20, inf) holds only 30 -> zero waste; NULL dropped
        b2 = got[2]
        assert (b2["lo"], b2["hi"]) == (20, None)
        assert b2["padded_tokens"] == 0
        assert 1 not in got                      # empty bucket absent
        with pytest.raises(ValueError, match="non-empty"):
            packing.length_bucket("w", [])

    def test_one_bucket_is_the_no_bucketing_baseline(self, spark):
        """padding with a single open bucket == pad-to-corpus-max; more
        buckets must never increase total padding."""
        from spark_expectations_spark.operators import packing
        df = spark.createDataFrame([(i, 4 + (i * 7) % 40)
                                    for i in range(50)],
                                   "doc_id long, w int")
        base = packing.padding_waste_report(df, "w", [10 ** 9]) \
            .agg(F.sum("padded_tokens").alias("p")).first()["p"]
        many = packing.padding_waste_report(df, "w", [10, 20, 30]) \
            .agg(F.sum("padded_tokens").alias("p")).first()["p"]
        assert many <= base


class TestDenseGlobalIndex:
    def test_ids_are_exact_global_ranks(self, spark):
        from spark_expectations_spark.operators import sampling
        rows = [(i, (i * 37) % 101) for i in range(101)]
        df = spark.createDataFrame(rows, "k long, v long").repartition(7)
        got = {r["k"]: r["gid"] for r in sampling.dense_global_index(
            df, ["v", "k"], out="gid", num_buckets=8).collect()}
        expect = {k: rank for rank, (v, k) in
                  enumerate(sorted((v, k) for k, v in rows))}
        assert got == expect

    def test_ties_in_lead_column_and_null_first(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [(1, 5), (2, 5), (3, None), (4, 5), (5, 2)],
            "k long, v int")
        got = {r["k"]: r["global_id"]
               for r in sampling.dense_global_index(
                   df, ["v", "k"], num_buckets=4).collect()}
        # NULL v sorts first (Spark ASC), then v=2, then the v=5 tie
        # block ordered by k
        assert got == {3: 0, 5: 1, 1: 2, 2: 3, 4: 4}

    def test_no_single_partition_exchange(self, spark):
        """The operator's whole reason to exist, pinned with the plan
        linter: the id assignment must never funnel the corpus through
        one task the way row_number() OVER (ORDER BY ...) does."""
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators import sampling
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = sampling.dense_global_index(
            docs, ["n_chars", "doc_id"], num_buckets=16)
        sev = {f["rule"]: f["severity"] for f in plans.plan_lint(out)}
        assert "single-partition-exchange" not in sev
        with pytest.raises(ValueError, match="non-empty"):
            sampling.dense_global_index(docs, [])


class TestDenseGlobalIndexSqlBucket:
    """r16: dense_global_index builds its threshold-indicator sum and
    offset map as ONE SQL string each (the per-threshold Column loop
    cost ~6 py4j round trips per threshold — seconds of driver chatter
    at the default 256 buckets). Pin the ids against the semantics on
    float, int, and NULL-carrying keys."""

    def _ids(self, spark, rows, schema, key_cols, nb):
        from spark_expectations_spark.operators.sampling import (
            dense_global_index)
        df = spark.createDataFrame(rows, schema)
        out = dense_global_index(df, key_cols, num_buckets=nb)
        got = {tuple(r[k] for k in key_cols): r["global_id"]
               for r in out.collect()}
        ordered = sorted(got, key=lambda t: tuple(
            (v is not None, v) for v in t))
        assert [got[k] for k in ordered] == list(range(len(ordered)))

    def test_float_keys(self, spark):
        rng = random.Random(3)
        rows = [(rng.random() * 100, i) for i in range(500)]
        self._ids(spark, rows, "score double, id long",
                  ["score", "id"], 16)

    def test_int_keys_with_ties_and_nulls(self, spark):
        rng = random.Random(4)
        rows = [(rng.randint(0, 40), i) for i in range(300)]
        rows += [(None, 9000 + i) for i in range(5)]
        self._ids(spark, rows, "score int, id long", ["score", "id"], 8)

    def test_constant_key_single_bucket(self, spark):
        rows = [(7, i) for i in range(50)]
        self._ids(spark, rows, "score int, id long", ["score", "id"], 4)


class TestUrlOps:
    def _one(self, spark, url):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame([(url,)], "url string")
        p = T.url_parts(F.col("url"))
        return df.select(
            p.alias("p"),
            T.registered_domain(p["host"]).alias("rd"),
            T.url_normalize(F.col("url")).alias("n")).first()

    def test_parse_strips_userinfo_and_folds_case(self, spark):
        r = self._one(
            spark,
            "HTTPS://u:pw@News.Example.CO.UK:8443/Path?a=1&utm_x=2#f")
        assert r["p"]["scheme"] == "https"
        assert r["p"]["host"] == "news.example.co.uk"
        assert r["p"]["port"] == 8443
        assert r["p"]["path"] == "/Path"          # path case significant
        assert r["p"]["query"] == "a=1&utm_x=2"
        assert r["p"]["fragment"] == "f"
        assert r["rd"] == "example.co.uk"          # 3 labels under co.uk
        assert r["n"] == "https://news.example.co.uk:8443/Path?a=1"

    def test_normalize_default_port_params_fragment(self, spark):
        r = self._one(
            spark,
            "https://www.shop.com:443/item?utm_source=x&gclid=1&ref=rss")
        # default port stripped, ALL params were tracking -> no query
        assert r["n"] == "https://www.shop.com/item"
        assert r["rd"] == "shop.com"
        r2 = self._one(spark, "http://example.com")
        assert r2["n"] == "http://example.com/"    # empty path -> /
        r3 = self._one(spark,
                       "http://a.com/x?id=2&utm_b=1&next=3")
        # survivor ORDER preserved
        assert r3["n"] == "http://a.com/x?id=2&next=3"

    def test_malformed_port_is_null_not_ansi_throw(self, spark):
        """ADVICE r8: under ANSI mode (Spark 4.x default) a plain
        .cast('int') on 'http://host:8a/' threw at runtime; try_cast
        contracts it to a NULL port with host still parsed."""
        r = self._one(spark, "http://host.example.com:8a/x")
        assert r["p"] is not None
        assert r["p"]["host"] == "host.example.com"
        assert r["p"]["port"] is None
        assert r["p"]["path"] == "/x"

    def test_bracketed_ipv6_rejected_whole(self, spark):
        """ADVICE r8: '[::1]:8080' used to mis-split host/port on the
        colon; the authority regex now rejects brackets so the struct
        is NULL like any non-URL — never silently mangled."""
        r = self._one(spark, "http://[::1]:8080/path")
        assert r["p"] is None and r["n"] is None and r["rd"] is None

    def test_non_url_and_null_and_bare_host(self, spark):
        from spark_expectations_spark.operators import text as T
        bad = self._one(spark, "not a url")
        assert bad["p"] is None and bad["n"] is None and bad["rd"] is None
        nul = self._one(spark, None)
        assert nul["p"] is None and nul["n"] is None
        df = spark.createDataFrame(
            [("localhost",), ("deep.cdn.example.com",)], "h string")
        got = [r["rd"] for r in df.select(
            T.registered_domain(F.col("h")).alias("rd")).collect()]
        assert got == ["localhost", "example.com"]

    def test_extra_suffixes_extend_the_snapshot(self, spark):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame([("a.b.example.pvt.k12.ma.us",)],
                                   "h string")
        base = df.select(T.registered_domain(
            F.col("h")).alias("rd")).first()["rd"]
        assert base == "ma.us"                     # 2-label fallback
        ext = df.select(T.registered_domain(
            F.col("h"), extra_suffixes=("ma.us",)).alias("rd")
        ).first()["rd"]
        assert ext == "k12.ma.us"


class TestParagraphDedup:
    DOCS = [
        (1, "alpha\n\nshared para\n\nbeta"),
        (2, "shared para\n\ngamma"),
        (3, "delta\n\nshared para"),
        (4, None),
    ]

    def _run(self, spark, **kw):
        from spark_expectations_spark.operators import dedup
        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        out = dedup.paragraph_dedup(df, "doc_id", "text", **kw)
        return {r["doc_id"]: r["dedup_text"] for r in out.collect()}

    def test_global_first_occurrence_wins(self, spark):
        got = self._run(spark)
        # doc 1 holds the first (doc_id, pos) occurrence of the shared
        # paragraph; docs 2 and 3 lose it but keep everything else
        assert got[1] == "alpha\n\nshared para\n\nbeta"
        assert got[2] == "gamma"
        assert got[3] == "delta"
        assert got[4] is None

    def test_hash_families_agree(self, spark):
        base = self._run(spark)
        for fam in ("md5_48", "exact"):
            assert self._run(spark, hash_family=fam) == base

    def test_lossless_when_no_duplicates(self, spark):
        from spark_expectations_spark.operators import dedup
        df = spark.createDataFrame(
            [(1, "a\n\nb\n\n"), (2, "c")], "doc_id long, text string")
        out = {r["doc_id"]: r["dedup_text"]
               for r in dedup.paragraph_dedup(
                   df, "doc_id", "text").collect()}
        # trailing separator (empty paragraph) survives byte-for-byte:
        # empties are exempt under the default min_chars=1
        assert out == {1: "a\n\nb\n\n", 2: "c"}

    def test_min_chars_exempts_short_paragraphs(self, spark):
        from spark_expectations_spark.operators import dedup
        df = spark.createDataFrame(
            [(1, "ok\n\nlong paragraph"), (2, "ok\n\nother")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["dedup_text"]
               for r in dedup.paragraph_dedup(
                   df, "doc_id", "text", min_chars=5).collect()}
        # "ok" is shorter than min_chars -> kept in BOTH docs
        assert out == {1: "ok\n\nlong paragraph", 2: "ok\n\nother"}

    def test_fully_duplicated_doc_rebuilds_empty(self, spark):
        from spark_expectations_spark.operators import dedup
        df = spark.createDataFrame(
            [(1, "same"), (2, "same")], "doc_id long, text string")
        out = {r["doc_id"]: r["dedup_text"]
               for r in dedup.paragraph_dedup(
                   df, "doc_id", "text").collect()}
        assert out == {1: "same", 2: ""}


class TestProductQuantize:
    # 2 subspaces x 2 codewords x 2 dims: nearest codeword is obvious
    BOOKS = [
        [[0.0, 0.0], [10.0, 10.0]],
        [[5.0, 5.0], [-5.0, -5.0]],
    ]

    def _df(self, spark, vec):
        return spark.createDataFrame([(1, vec)],
                                     "vec_id long, embedding array<float>")

    def test_known_codes_and_distances(self, spark):
        from spark_expectations_spark.operators import similarity
        df = self._df(spark, [9.0, 9.0, -4.0, -6.0])
        r = similarity.product_quantize(
            df, codebooks=self.BOOKS, dist_out="d").first()
        assert list(r["pq_codes"]) == [1, 1]
        # sub0 vs [10,10]: 1+1=2; sub1 vs [-5,-5]: 1+1=2
        assert [pytest.approx(x) for x in r["d"]] == [2.0, 2.0]

    def test_tie_picks_lowest_code(self, spark):
        from spark_expectations_spark.operators import similarity
        books = [[[1.0], [-1.0]]]
        df = self._df(spark, [0.0])
        r = similarity.product_quantize(df, codebooks=books).first()
        assert list(r["pq_codes"]) == [0]

    def test_decode_and_reconstruction_error(self, spark):
        from spark_expectations_spark.operators import similarity
        df = self._df(spark, [9.0, 9.0, -4.0, -6.0])
        enc = similarity.product_quantize(df, codebooks=self.BOOKS)
        r = enc.select(
            similarity.pq_decode(F.col("pq_codes"), self.BOOKS)
            .alias("rec"),
            similarity.pq_reconstruction_error(
                F.col("embedding"), F.col("pq_codes"), self.BOOKS)
            .alias("mse")).first()
        assert list(r["rec"]) == [10.0, 10.0, -5.0, -5.0]
        assert r["mse"] == pytest.approx((1 + 1 + 1 + 1) / 4.0)

    def test_arrow_twin_matches_hof_and_handles_nulls(self, spark):
        """product_quantize_arrow is the bulk-encode path: same codes
        and distances as the literal-HOF twin on real-valued vectors,
        NULL vectors pass through as NULL codes; with non-finite
        codewords (TestNonFiniteCodewords' codebook) a NaN codeword
        loses to every finite one in both twins."""
        from spark_expectations_spark.operators import similarity
        nan, inf = float("nan"), float("inf")
        non_finite = [[[nan, 1.0], [0.0, 0.0]], [[inf, 0.0], [2.0, -inf]]]
        cases = [
            (self.BOOKS, [(1, [9.0, 9.0, -4.0, -6.0]),
                          (2, [1.0, -1.0, 4.0, 6.0]), (3, None)]),
            (non_finite, [(1, [0.5, 0.5, 1.0, 1.0])]),
        ]
        for books, rows in cases:
            df = spark.createDataFrame(
                rows, "vec_id long, embedding array<float>")
            hof = {r["vec_id"]: (r["pq_codes"], r["d"])
                   for r in similarity.product_quantize(
                       df, codebooks=books, dist_out="d").collect()}
            arw = {r["vec_id"]: (r["pq_codes"], r["d"])
                   for r in similarity.product_quantize_arrow(
                       df, codebooks=books, dist_out="d").collect()}
            for k, vec in rows:
                if vec is None:
                    assert arw[k] == (None, None) and hof[k][0] is None
                    continue
                assert list(arw[k][0]) == list(hof[k][0])
                assert [pytest.approx(x) for x in hof[k][1]] == \
                    list(arw[k][1])
        assert list(arw[1][0]) == [1, 0]

    def test_codebooks_deterministic_and_shaped(self, spark):
        from spark_expectations_spark.operators import similarity
        b1 = similarity.pq_codebooks(dim=64, m=4, k=8, seed=7)
        b2 = similarity.pq_codebooks(dim=64, m=4, k=8, seed=7)
        assert b1 == b2
        assert (len(b1), len(b1[0]), len(b1[0][0])) == (4, 8, 16)
        with pytest.raises(ValueError, match="not divisible"):
            similarity.pq_codebooks(dim=10, m=4)


class TestNonFiniteCodewords:
    def test_product_quantize_nan_codeword_plans_and_runs(self, spark):
        books = [[[float("nan"), 1.0], [0.0, 0.0]],
                 [[float("inf"), 0.0], [2.0, float("-inf")]]]
        df = spark.createDataFrame([(1, [0.5, 0.5, 1.0, 1.0])],
                                   "id int, embedding array<double>")
        out = similarity.product_quantize(df, codebooks=books).collect()
        # nan distances lose argmin to the finite codeword; codes exist
        assert out[0]["pq_codes"] is not None
        assert len(out[0]["pq_codes"]) == 2
        assert out[0]["pq_codes"][0] == 1  # nan book: codeword 1 wins

    def test_pq_query_lut_nan_entries(self, spark):
        books = [[[float("nan")], [1.0]]]
        df = spark.createDataFrame([([2.0],)], "q array<double>")
        got = df.select(similarity.pq_query_lut("q", books)
                        .alias("lut")).collect()[0]["lut"]
        assert math.isnan(got[0]) and got[1] == 1.0

    def test_dbl_sql_spellings(self):
        assert similarity._dbl_sql(1.5) == "1.5D"
        assert similarity._dbl_sql(float("nan")) == "CAST('NaN' AS DOUBLE)"
        assert similarity._dbl_sql(float("inf")) == \
            "CAST('Infinity' AS DOUBLE)"
        assert similarity._dbl_sql(float("-inf")) == \
            "CAST('-Infinity' AS DOUBLE)"


class TestIvfPqTopk:
    """IVF-PQ asymmetric-distance search (similarity.ivf_pq_topk)."""

    BOOKS = [
        [[0.0, 0.0], [10.0, 10.0]],
        [[5.0, 5.0], [-5.0, -5.0]],
    ]

    def _corpus(self, spark):
        # two obvious clusters around (10,10,-5,-5) and (0,0,5,5)
        rows = [
            (1, [9.0, 9.0, -4.0, -6.0], 0),
            (2, [11.0, 10.0, -5.0, -4.0], 0),
            (3, [1.0, 0.0, 5.0, 6.0], 1),
            (4, [0.0, -1.0, 4.0, 5.0], 1),
            (5, None, 0),
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")

    def test_adc_equals_exact_distance_to_decoded_vector(self, spark):
        """The load-bearing invariant: ADC = Σ_j ||q_j − codeword_j||²
        IS the exact squared L2 between the query and the DECODED
        candidate — the LUT path must reproduce it bit-for-bit."""
        from spark_expectations_spark.operators import similarity
        emb = self._corpus(spark)
        cents = similarity.train_centroids_df(
            emb, vec_col="embedding", by_col="label")
        enc = similarity.product_quantize(
            emb.withColumnRenamed("label", "centroid_id"),
            vec_col="embedding", codebooks=self.BOOKS)
        qs = emb.filter(F.col("vec_id") == 1)
        got = similarity.ivf_pq_topk(
            enc, cents, qs, codebooks=self.BOOKS,
            k=10, nprobe=2).collect()
        # expected: decode every non-null candidate, exact squared L2
        import itertools
        q = [9.0, 9.0, -4.0, -6.0]
        dec = {r["vec_id"]: [list(itertools.chain(*[
            self.BOOKS[j][c] for j, c in enumerate(r["pq_codes"])]))]
            for r in enc.collect() if r["pq_codes"] is not None}
        exact = {i: sum((a - b) ** 2 for a, b in zip(q, v[0]))
                 for i, v in dec.items() if i != 1}
        assert {r["neighbor_id"]: r["adc"] for r in got} \
            == pytest.approx(exact)
        # ranking ascends in adc with id ties
        order = [r["neighbor_id"] for r in sorted(got,
                                                  key=lambda r: r["rank"])]
        assert order == sorted(exact, key=lambda i: (exact[i], i))

    def test_nprobe_prunes_cells_and_nulls_skipped(self, spark):
        from spark_expectations_spark.operators import similarity
        emb = self._corpus(spark)
        cents = similarity.train_centroids_df(
            emb, vec_col="embedding", by_col="label")
        enc = similarity.product_quantize(
            emb.withColumnRenamed("label", "centroid_id"),
            vec_col="embedding", codebooks=self.BOOKS)
        qs = emb.filter(F.col("vec_id") == 1)
        got = similarity.ivf_pq_topk(
            enc, cents, qs, codebooks=self.BOOKS,
            k=10, nprobe=1).collect()
        # nprobe=1 from a cluster-0 query: only cell-0 mates, and the
        # NULL-coded vec 5 (cell 0) never appears
        assert {r["neighbor_id"] for r in got} == {2}
        # NULL-vector QUERIES are dropped, not ranked over NULL ADC
        null_q = emb.filter(F.col("vec_id") == 5)
        assert similarity.ivf_pq_topk(
            enc, cents, null_q, codebooks=self.BOOKS,
            k=3, nprobe=2).count() == 0

    def test_lut_path_matches_decode_path_on_real_vectors(self, spark):
        """Table-scale contract: with every cell probed, the LUT/ADC
        ranking must be IDENTICAL to ranking candidates by exact squared
        L2 against their pq_decode reconstruction — the lookup table is
        an exact re-expression of the decoded distance, not an
        approximation of it. (Recall vs the un-quantized exhaustive
        search is a codebook-QUALITY property, measured by
        recall_at_k + trained kmeans_refine books, not asserted here —
        the catalog books are untrained LCG stand-ins.)"""
        from spark_expectations_spark.operators import similarity
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        books = similarity.pq_codebooks(dim=64, m=4, k=8, seed=7)
        cents = similarity.train_centroids_df(
            emb, vec_col="embedding", by_col="label")
        enc = similarity.product_quantize(
            emb.withColumn("centroid_id", F.col("label")),
            vec_col="embedding", codebooks=books)
        qs = emb.filter(F.col("vec_id") < 5)
        nc = cents.count()
        approx = similarity.ivf_pq_topk(
            enc, cents, qs, codebooks=books, k=5, nprobe=nc)
        # decode path: exact squared L2 query <-> reconstructed corpus
        rec = enc.select(
            F.col("vec_id").alias("neighbor_id"),
            similarity.pq_decode(F.col("pq_codes"), books).alias("__rv"))
        qv = qs.select(F.col("vec_id").alias("query_id"),
                       F.transform("embedding",
                                   lambda x: x.cast("double")).alias("__qv"))
        d2 = F.aggregate(
            F.zip_with("__qv", "__rv", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        from pyspark.sql import Window
        w = Window.partitionBy("query_id").orderBy(
            F.col("__d").asc(), F.col("neighbor_id").asc())
        want = (qv.crossJoin(rec)
                .filter(F.col("neighbor_id") != F.col("query_id"))
                .select("query_id", "neighbor_id", d2.alias("__d"))
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 5))
        got_rows = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                                 pytest.approx(r["adc"]))
                    for r in approx.collect()}
        want_rows = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                                  r["__d"])
                     for r in want.collect()}
        assert len(got_rows) == 25
        assert got_rows == want_rows


class TestBlockedFuzzyJoin:
    def _frames(self, spark):
        L = spark.createDataFrame(
            [(1, "Acme Corp"), (2, "Widget Works"), (3, "Zen Labs"),
             (4, None)],
            "lid int, lname string")
        R = spark.createDataFrame(
            [(10, "acme corp"), (11, "acme crop"), (12, "Widgett Works"),
             (13, "totally different"), (14, "zen lab")],
            "rid int, rname string")
        return L, R

    def test_matches_with_exact_distance_and_original_keys(self, spark):
        from spark_expectations_spark.operators import linkage
        L, R = self._frames(spark)
        got = {(r["lid"], r["rid"]): (r["distance"], r["lname"], r["rname"])
               for r in linkage.blocked_fuzzy_join(
                   L, R, "lid", "lname", "rid", "rname",
                   max_distance=2).collect()}
        # case/space folding -> 0; transposition -> 2; extra char -> 1
        assert got[(1, 10)][0] == 0
        assert got[(1, 11)][0] == 2
        assert got[(2, 12)] == (1, "Widget Works", "Widgett Works")
        assert got[(3, 14)][0] == 1
        # no cross-block garbage, NULL key contributes nothing
        assert set(got) == {(1, 10), (1, 11), (2, 12), (3, 14)}

    def test_each_pair_once_despite_multiple_shared_blocks(self, spark):
        """A pair sharing prefix AND length blocks must not duplicate."""
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, "abcd")], "lid int, lname string")
        R = spark.createDataFrame([(2, "abce")], "rid int, rname string")
        out = linkage.blocked_fuzzy_join(
            L, R, "lid", "lname", "rid", "rname", max_distance=1,
            blockers=("prefix", "length", "ngram"))
        assert out.count() == 1

    def test_blocking_recall_modes(self, spark):
        """prefix blocking misses a first-char edit; ngram blocking has
        the provable-recall guarantee and finds it."""
        from spark_expectations_spark.operators import linkage
        P = spark.createDataFrame([(1, "xacme inc")],
                                  "lid int, lname string")
        Q = spark.createDataFrame([(2, "acme inc")],
                                  "rid int, rname string")
        kw = dict(max_distance=1)
        assert linkage.blocked_fuzzy_join(
            P, Q, "lid", "lname", "rid", "rname",
            blockers=("prefix",), **kw).count() == 0
        assert linkage.blocked_fuzzy_join(
            P, Q, "lid", "lname", "rid", "rname",
            blockers=("ngram",), **kw).count() == 1

    def test_soundex_blocker_and_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, "Robert")], "lid int, lname string")
        R = spark.createDataFrame([(2, "Rupert")], "rid int, rname string")
        # phonetic block meets; distance 3 verifies at max_distance=3
        assert linkage.blocked_fuzzy_join(
            L, R, "lid", "lname", "rid", "rname", max_distance=3,
            blockers=("soundex",)).count() == 1
        with _pytest.raises(ValueError, match="unknown blockers"):
            linkage.blocking_keys(F.lit("x"), blockers=("bogus",))
        with _pytest.raises(ValueError, match="at least one"):
            linkage.blocking_keys(F.lit("x"), blockers=())

    def test_self_pairs_canonical_ordering(self, spark):
        from spark_expectations_spark.operators import linkage
        D = spark.createDataFrame(
            [(1, "johnson"), (2, "jonson"), (3, "johnson"), (4, "smith")],
            "id int, name string")
        got = {(r["id_a"], r["id_b"]): r["distance"]
               for r in linkage.fuzzy_self_pairs(
                   D, "id", "name", max_distance=1).collect()}
        assert got == {(1, 2): 1, (1, 3): 0, (2, 3): 1}

    def test_plan_has_no_cartesian(self, spark):
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators import linkage
        L, R = self._frames(spark)
        out = linkage.blocked_fuzzy_join(
            L, R, "lid", "lname", "rid", "rname")
        rules = {f["rule"] for f in plans.plan_lint(out)
                 if f["severity"] in ("error", "warn")}
        assert "cartesian-product" not in rules
        assert "python-row-udf" not in rules


class TestCalibration:
    """calibration_report / expected_calibration_error golden: 2-bin
    hand-computed fixture pinning the top-bin clamp for score 1.0, the
    NULL drop, and the out-of-[0,1] drop (ADVICE r9: negative scores
    must not mint negative bins; >1 scores must not skew the top bin)."""

    ROWS = [(0.1, 0), (0.3, 1),            # bin 0
            (0.6, 1), (1.0, 1),            # bin 1 (1.0 clamps into top)
            (None, 1), (0.5, None),        # NULL drop
            (-0.25, 0), (1.5, 1)]          # out-of-contract drop

    def _df(self, spark):
        return spark.createDataFrame(self.ROWS, "score double, label int")

    def test_report_golden_bins(self, spark):
        from pytest import approx

        from spark_expectations_spark.operators import text as T
        got = {r["bin"]: r for r in T.calibration_report(
            self._df(spark), "score", "label", n_bins=2).collect()}
        assert set(got) == {0, 1}          # no bin -1 / no bin 2
        assert got[0]["n"] == 2
        assert got[0]["avg_score"] == approx(0.2)
        assert got[0]["frac_pos"] == approx(0.5)
        assert got[0]["gap"] == approx(0.3)
        assert got[1]["n"] == 2
        assert got[1]["avg_score"] == approx(0.8)
        assert got[1]["frac_pos"] == approx(1.0)
        assert got[1]["gap"] == approx(0.2)

    def test_zero_score_keeps_bottom_bin(self, spark):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame([(0.0, 0)], "score double, label int")
        r = T.calibration_report(df, "score", "label", n_bins=4).first()
        assert r["bin"] == 0 and r["n"] == 1

    def test_ece_mce_brier_golden(self, spark):
        from pytest import approx

        from spark_expectations_spark.operators import text as T
        r = T.expected_calibration_error(
            self._df(spark), "score", "label", n_bins=2).first()
        assert r["n"] == 4                 # dropped rows count nowhere
        assert r["ece"] == approx(0.25)    # 0.5*0.3 + 0.5*0.2
        assert r["mce"] == approx(0.3)
        assert r["brier"] == approx(0.165)

    def test_n_bins_validation(self, spark):
        import pytest as _pytest

        from spark_expectations_spark.operators import text as T
        with _pytest.raises(ValueError, match="n_bins"):
            T.calibration_report(self._df(spark), "score", "label",
                                 n_bins=0)


class TestLinkageScaleRefinements:
    """Composite (conjunctive) blockers + ed-join rare-gram prefix
    filtering — the r10 scale upgrades to the linkage family."""

    def test_composite_key_requires_every_member(self, spark):
        from spark_expectations_spark.operators import linkage
        # same prefix, different length bucket: disjunctive finds it,
        # conjunctive (prefix AND length) must not
        L = spark.createDataFrame([(1, "abcdefgh")], "lid int, lname string")
        R = spark.createDataFrame([(2, "abcde")], "rid int, rname string")
        kw = dict(max_distance=3)
        assert linkage.blocked_fuzzy_join(
            L, R, "lid", "lname", "rid", "rname",
            blockers=("prefix", "length"), **kw).count() == 1
        assert linkage.blocked_fuzzy_join(
            L, R, "lid", "lname", "rid", "rname",
            blockers=(("prefix", "length"),), **kw).count() == 0

    def test_composite_key_format_and_dedup(self, spark):
        from spark_expectations_spark.operators import linkage
        df = spark.createDataFrame([("abcd",)], "k string")
        keys = df.select(linkage.blocking_keys(
            F.col("k"), blockers=(("prefix", "length"),)).alias("b")
        ).first()["b"]
        assert keys == ["p:ab+l:1"]
        # composite + plain blocker coexist, distinct applied
        keys2 = df.select(linkage.blocking_keys(
            F.col("k"), blockers=("prefix", ("prefix", "length"))).alias("b")
        ).first()["b"]
        assert keys2 == ["p:ab", "p:ab+l:1"]

    def test_composite_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import linkage
        with _pytest.raises(ValueError, match="unknown blockers"):
            linkage.blocking_keys(F.lit("x"), blockers=(("prefix", "bogus"),))
        with _pytest.raises(ValueError, match="empty composite"):
            linkage.blocking_keys(F.lit("x"), blockers=((),))

    def test_prefix_filter_keeps_recall_on_first_char_edit(self, spark):
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame(
            [(1, "xacme anvil works"), (2, "zzz unrelated co")],
            "lid int, lname string")
        R = spark.createDataFrame(
            [(10, "acme anvil works"), (11, "totally different llc")],
            "rid int, rname string")
        got = {(r["lid"], r["rid"]): r["distance"]
               for r in linkage.blocked_fuzzy_join(
                   L, R, "lid", "lname", "rid", "rname",
                   max_distance=1, blockers=("ngram",),
                   prefix_filter=True).collect()}
        assert got == {(1, 10): 1}

    def test_prefix_filter_requires_ngram_only(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, "ab")], "lid int, lname string")
        with _pytest.raises(ValueError, match="prefix_filter"):
            linkage.blocked_fuzzy_join(
                L, L, "lid", "lname", "lid", "lname",
                blockers=("prefix",), prefix_filter=True)

    def test_prefix_filter_key_budget(self, spark):
        """Each row contributes at most d*q+1 block keys after the
        rare-gram filter (vs ~len without)."""
        from pyspark.sql import Window as W

        from spark_expectations_spark.operators import linkage
        df = spark.createDataFrame(
            [(i, f"some long shared text body #{i:04d}") for i in range(20)],
            "id int, name string")
        # without filter: ~30 grams/row; the self-join explodes those.
        # With filter the verify input is bounded: check via the key
        # arrays the operator builds internally — reproduce the freq
        # ranking and assert the kept-key bound.
        grams = df.select(
            "id", F.explode(linkage.blocking_keys(
                F.col("name"), blockers=("ngram",))).alias("b"))
        freq = grams.groupBy("b").agg(F.count(F.lit(1)).alias("df"))
        kept = (grams.join(freq, "b")
                .withColumn("rk", F.row_number().over(
                    W.partitionBy("id").orderBy("df", "b")))
                .filter(F.col("rk") <= 4))
        per_row = kept.groupBy("id").count().agg(
            F.max("count").alias("mx")).first()["mx"]
        assert per_row <= 4

    def test_verify_then_dedup_pair_set_unchanged(self, spark):
        """The r10 verify-then-dedup reorder must return each matched
        pair exactly once even when it meets in many gram blocks."""
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, "abcdefghij")], "lid int, lname string")
        R = spark.createDataFrame([(2, "abcdefghix")], "rid int, rname string")
        out = linkage.blocked_fuzzy_join(
            L, R, "lid", "lname", "rid", "rname",
            max_distance=1, blockers=("ngram",)).collect()
        assert len(out) == 1 and out[0]["distance"] == 1


class TestSetSimilarityJoin:
    """PPJoin-style set-similarity join: prefix-filter recall, length
    filter, exact verify, set semantics, validation."""

    def test_known_jaccards_and_threshold(self, spark):
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame(
            [(1, ["a", "b", "c", "d", "e"]), (2, ["x", "y", "z"])],
            "lid int, ls array<string>")
        R = spark.createDataFrame(
            [(10, ["a", "b", "c", "d"]),      # jac vs 1 = 4/5
             (11, ["x", "y", "q"]),           # jac vs 2 = 2/4
             (12, ["m", "n"])],               # no overlap
            "rid int, rs array<string>")
        got = {(r["lid"], r["rid"]): (r["n_common"], r["jaccard"])
               for r in linkage.set_similarity_join(
                   L, R, "lid", "ls", "rid", "rs",
                   threshold=0.5).collect()}
        assert got == {(1, 10): (4, 0.8), (2, 11): (2, 0.5)}
        strict = linkage.set_similarity_join(
            L, R, "lid", "ls", "rid", "rs", threshold=0.75)
        assert [(r["lid"], r["rid"]) for r in strict.collect()] == [(1, 10)]
        # hash_tokens runs the same pipeline in the md5-60 token image
        # (longs, not strings) — identical output absent collisions
        hashed = {(r["lid"], r["rid"]): (r["n_common"], r["jaccard"])
                  for r in linkage.set_similarity_join(
                      L, R, "lid", "ls", "rid", "rs",
                      threshold=0.5, hash_tokens=True).collect()}
        assert hashed == got

    def test_duplicate_tokens_are_set_semantics(self, spark):
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, ["a", "a", "b"])],
                                  "lid int, ls array<string>")
        R = spark.createDataFrame([(2, ["a", "b", "b", "b"])],
                                  "rid int, rs array<string>")
        r = linkage.set_similarity_join(
            L, R, "lid", "ls", "rid", "rs", threshold=0.9).first()
        assert (r["n_common"], r["jaccard"]) == (2, 1.0)

    def test_null_and_empty_sets_match_nothing(self, spark):
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame(
            [(1, ["a"]), (2, []), (3, None)], "lid int, ls array<string>")
        out = linkage.set_similarity_join(
            L, L.selectExpr("lid as rid", "ls as rs"),
            "lid", "ls", "rid", "rs", threshold=0.1)
        assert [(r["lid"], r["rid"]) for r in out.collect()] == [(1, 1)]

    def test_prefix_filter_recall_identity_pairs(self, spark):
        """Every set must match its own copy at any threshold — the
        prefix-filter bound may keep only a few tokens but identical
        prefixes always intersect."""
        from spark_expectations_spark.operators import linkage
        rows = [(i, [f"t{i}_{j}" for j in range(1 + i % 7)])
                for i in range(30)]
        L = spark.createDataFrame(rows, "lid int, ls array<string>")
        R = spark.createDataFrame(rows, "rid int, rs array<string>")
        out = linkage.set_similarity_join(
            L, R, "lid", "ls", "rid", "rs", threshold=0.95)
        pairs = {(r["lid"], r["rid"]) for r in out.collect()}
        assert {(i, i) for i in range(30)} <= pairs

    def test_threshold_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, ["a"])], "lid int, ls array<string>")
        for bad in (0.0, -0.1, 1.5):
            with _pytest.raises(ValueError, match="threshold"):
                linkage.set_similarity_join(
                    L, L.selectExpr("lid as rid", "ls as rs"),
                    "lid", "ls", "rid", "rs", threshold=bad)

    def test_plan_clean(self, spark):
        from spark_expectations_spark import plans
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, ["a", "b"])],
                                  "lid int, ls array<string>")
        out = linkage.set_similarity_join(
            L, L.selectExpr("lid as rid", "ls as rs"),
            "lid", "ls", "rid", "rs", threshold=0.5)
        rules = {f["rule"] for f in plans.plan_lint(out)
                 if f["severity"] == "error"}
        assert not rules


class TestWeightedCosineHashMode:
    def test_hash_tokens_identical_results(self, spark):
        """hash_tokens runs the weighted join in the md5-60 token
        image — identical output absent collisions (kept as an option
        even though the sf0.1 A/B showed it LOSES for this
        posting-list shape; see the operator docstring)."""
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame(
            [(1, ["aa", "bb", "cc"]), (2, ["xx", "yy"])],
            "lid int, ls array<string>")
        R = spark.createDataFrame(
            [(10, ["aa", "bb", "zz"]), (11, ["xx", "yy"])],
            "rid int, rs array<string>")
        w = spark.createDataFrame(
            [("aa", 2.0), ("bb", 1.0), ("cc", 1.0), ("xx", 3.0),
             ("yy", 1.0), ("zz", 1.0)], "token string, weight double")
        plain = sorted(map(tuple, linkage.weighted_cosine_join(
            L, R, "lid", "ls", "rid", "rs", w, threshold=0.5).collect()))
        hashed = sorted(map(tuple, linkage.weighted_cosine_join(
            L, R, "lid", "ls", "rid", "rs", w, threshold=0.5,
            hash_tokens=True).collect()))
        assert plain == hashed and plain


class TestSortedNeighborhoodPairs:
    def test_window_pairs_with_tie_break_and_null_skip(self, spark):
        """Ranks follow (normalized key, id); each record pairs with
        the window-1 following ranks; NULL/empty keys are excluded."""
        from spark_expectations_spark.operators import linkage as L
        rows = [(1, "Smith"), (2, " smith "), (3, "Smyth"),
                (4, "Jones"), (5, None), (6, "")]
        df = spark.createDataFrame(rows, "id long, name string")
        got = sorted((r["left_id"], r["right_id"], r["rank_distance"])
                     for r in L.sorted_neighborhood_pairs(
                         df, "id", "name", window=3).collect())
        # order: jones(4) < smith(1) < smith(2, tie by id) < smyth(3)
        assert got == [(1, 2, 1), (1, 3, 2), (2, 3, 1),
                       (4, 1, 1), (4, 2, 2)]

    def test_candidate_count_is_linear_and_partition_invariant(
            self, spark):
        """Exactly n - j pairs at each rank_distance j — the skew-proof
        linear budget that motivates the blocker — and the pair set
        never depends on physical partitioning."""
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import linkage as L
        df = spark.range(0, 97).selectExpr(
            "id", "concat('k', lpad(cast(id as string), 3, '0')) as k")
        out = L.sorted_neighborhood_pairs(df, "id", "k", window=4)
        per = {r["rank_distance"]: r["n"] for r in
               out.groupBy("rank_distance")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert per == {1: 96, 2: 95, 3: 94}
        again = L.sorted_neighborhood_pairs(
            df.repartition(11), "id", "k", window=4)
        assert sorted(map(tuple, out.collect())) == \
            sorted(map(tuple, again.collect()))

    def test_multibyte_keys_keep_binary_order(self, spark):
        """Non-ASCII keys must sort among their ASCII neighbors by the
        same binary collation Spark strings use — a chars-not-bytes
        lead key overflowed the 64-bit conv and silently bucketed
        every multibyte key first, losing exactly the typo pairs the
        blocker exists for."""
        from spark_expectations_spark.operators import linkage as L
        rows = [(1, "müller"), (2, "muller"), (3, "mzller"),
                (4, "aaaa"), (5, "日本語のキー")]
        df = spark.createDataFrame(rows, "id long, k string")
        got = sorted((r["left_id"], r["right_id"])
                     for r in L.sorted_neighborhood_pairs(
                         df, "id", "k", window=2).collect())
        # binary UTF-8 order: aaaa < muller < mzller < müller < 日本語…
        assert got == sorted([(4, 2), (2, 3), (3, 1), (1, 5)])

    def test_verify_distance_filter_and_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import linkage as L
        rows = [(1, "abcd"), (2, "abce"), (3, "zzzz")]
        df = spark.createDataFrame(rows, "id long, k string")
        got = L.sorted_neighborhood_pairs(
            df, "id", "k", window=3, max_distance=1).collect()
        assert [(r["left_id"], r["right_id"], r["distance"])
                for r in got] == [(1, 2, 1)]
        with _pytest.raises(ValueError, match="window"):
            L.sorted_neighborhood_pairs(df, "id", "k", window=1)
        with _pytest.raises(ValueError, match="max_distance"):
            L.sorted_neighborhood_pairs(df, "id", "k", max_distance=-1)


class TestBlockingQualityReport:
    def _frames(self, spark):
        L = spark.createDataFrame(
            [(1, "acme corp"), (2, "widget works"), (3, "zen labs")],
            "lid int, lk string")
        R = spark.createDataFrame(
            [(10, "acme crop"), (11, "xidget works"),
             (12, "unrelated name here")],
            "rid int, rk string")
        return L, R

    def test_recall_and_reduction_arithmetic(self, spark):
        from pytest import approx

        from spark_expectations_spark.operators import linkage
        L, R = self._frames(spark)
        # truth at d<=2: (1,10) transposition, (2,11) first-char sub.
        # prefix-2 blocking catches only the acme pair.
        r = linkage.blocking_quality_report(
            L, R, "lid", "lk", "rid", "rk",
            max_distance=2, blockers=("prefix",)).first()
        assert (r["n_left"], r["n_right"]) == (3, 3)
        assert (r["n_candidates"], r["n_true"], r["n_caught"]) == (1, 2, 1)
        assert r["reduction_ratio"] == approx(1 - 1 / 9)
        assert r["pairs_completeness"] == approx(0.5)
        # ngram blocking recovers the first-char edit -> completeness 1
        r2 = linkage.blocking_quality_report(
            L, R, "lid", "lk", "rid", "rk",
            max_distance=2, blockers=("ngram",)).first()
        assert r2["n_caught"] == 2 and r2["pairs_completeness"] == 1.0

    def test_no_true_pairs_gives_null_completeness(self, spark):
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, "aaaa")], "lid int, lk string")
        R = spark.createDataFrame([(2, "zzzzzzzz")], "rid int, rk string")
        r = linkage.blocking_quality_report(
            L, R, "lid", "lk", "rid", "rk", max_distance=1).first()
        assert r["n_true"] == 0 and r["pairs_completeness"] is None

    def test_sample_fraction_guard_and_determinism(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import linkage
        L, R = self._frames(spark)
        with _pytest.raises(ValueError, match="sample_fraction"):
            linkage.blocking_quality_report(
                L, R, "lid", "lk", "rid", "rk", sample_fraction=0.0)
        a = linkage.blocking_quality_report(
            L, R, "lid", "lk", "rid", "rk", sample_fraction=0.7).first()
        b = linkage.blocking_quality_report(
            L, R, "lid", "lk", "rid", "rk", sample_fraction=0.7).first()
        assert a == b


class TestBlockingIndexProbe:
    def test_probe_reproduces_single_shot_join(self, spark, tmp_path):
        from spark_expectations_spark.operators import linkage
        master = spark.createDataFrame(
            [(1, "Acme Corp"), (2, "Widget Works"), (3, "Zen Labs")],
            "mid int, mname string")
        probe = spark.createDataFrame(
            [(10, "acme crop"), (11, "Widgett Works"), (12, "nothing")],
            "pid int, pname string")
        # round-trip the index through parquet — the steady-state shape
        idx_path = str(tmp_path / "blocking_index")
        linkage.blocking_index(master, "mid", "mname").write.parquet(idx_path)
        idx = spark.read.parquet(idx_path)
        got = {(r["pid"], r["index_id"]): r["distance"]
               for r in linkage.probe_blocking_index(
                   idx, probe, "pid", "pname", max_distance=2).collect()}
        want = {(r["pid"], r["mid"]): r["distance"]
                for r in linkage.blocked_fuzzy_join(
                    probe, master, "pid", "pname", "mid", "mname",
                    max_distance=2).collect()}
        assert got == want and got  # nonempty and identical
        # original key strings survive the index round trip
        row = linkage.probe_blocking_index(
            idx, probe, "pid", "pname", max_distance=2).filter(
            "pid = 11").first()
        assert row["index_key"] == "Widget Works"
        assert row["pname"] == "Widgett Works"

    def test_mismatched_blockers_under_recall_documented(self, spark):
        """Probing a prefix-built index with ngram keys finds nothing —
        the documented configuration-mismatch failure mode."""
        from spark_expectations_spark.operators import linkage
        master = spark.createDataFrame([(1, "acme corp")],
                                       "mid int, mname string")
        probe = spark.createDataFrame([(10, "acme crop")],
                                      "pid int, pname string")
        idx = linkage.blocking_index(master, "mid", "mname",
                                     blockers=("prefix",))
        assert linkage.probe_blocking_index(
            idx, probe, "pid", "pname", blockers=("ngram",),
            max_distance=2).count() == 0


class TestLinkageShinglePlans:
    """The two linkage catalog entries shingle each document once,
    above the scan's round-robin spread, through the codegen n-gram
    kernel. Exploding a projected set COLUMN lets Catalyst infer a
    size(set) > 0 filter from the Generate and push it (and any
    explicit NULL/empty filter) below the spread into the scan: a
    second shingling pass on a single task."""

    BUILDERS = ("regexp_extract_all", "array_distinct", "arrays_zip",
                "zip_with", "lambdafunction")

    @staticmethod
    def _plan(spark, name):
        from spark_expectations_spark import plans
        from spark_expectations_spark.queries import QUERIES
        return plans.plan_text(QUERIES[name](spark, SF))

    def test_set_jaccard_join_shingles_above_the_spread(self, spark):
        from spark_expectations_spark.plans import _parse_tree_and_details
        txt = self._plan(spark, "docs_set_jaccard_join")
        tree, details = _parse_tree_and_details(txt)
        below, n_spread = [], 0
        for i, (depth, name, nid) in enumerate(tree):
            if (name == "Exchange"
                    and "RoundRobinPartitioning" in details.get(nid, "")):
                n_spread += 1
                j = i + 1
                while j < len(tree) and tree[j][0] > depth:
                    below.append(tree[j][2])
                    j += 1
        assert n_spread >= 2 and below
        for nid in below:
            for b in self.BUILDERS:
                assert b not in details[nid], (nid, b, details[nid])
        for line in txt.splitlines():
            if "DataFilters" in line:
                assert not any(b in line for b in self.BUILDERS), line

    @pytest.mark.parametrize("name", ["docs_set_jaccard_join",
                                      "docs_weighted_cosine"])
    def test_no_lambda_ngram_builder(self, spark, name):
        txt = self._plan(spark, name)
        assert "regexp_extract_all" in txt
        for b in ("arrays_zip", "zip_with", "lambdafunction(concat_ws"):
            assert b not in txt, b


class TestSetSimilaritySelfPairs:
    def test_canonical_ordering_and_threshold(self, spark):
        from spark_expectations_spark.operators import linkage
        df = spark.createDataFrame(
            [(1, ["a", "b", "c"]), (2, ["a", "b", "c"]),
             (3, ["a", "b", "x"]), (4, ["z"])],
            "id int, s array<string>")
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in linkage.set_similarity_self_pairs(
                   df, "id", "s", threshold=0.5).collect()}
        assert set(got) == {(1, 2), (1, 3), (2, 3)}
        assert got[(1, 2)] == 1.0 and got[(1, 3)] == 0.5


class TestCohensKappa:
    def test_classic_worked_example(self, spark):
        from pytest import approx

        from spark_expectations_spark.operators import profiling
        rows = ([("y", "y")] * 20 + [("n", "n")] * 15
                + [("y", "n")] * 10 + [("n", "y")] * 5)
        df = spark.createDataFrame(rows, "a string, b string")
        r = profiling.cohens_kappa(df, "a", "b").first()
        assert r["n"] == 50
        assert r["p_o"] == approx(0.7)
        assert r["p_e"] == approx(0.5)
        assert r["kappa"] == approx(0.4)

    def test_null_labels_dropped_and_degenerate_null(self, spark):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame(
            [("x", "x"), ("x", None), (None, "x")], "a string, b string")
        r = profiling.cohens_kappa(df, "a", "b").first()
        assert r["n"] == 1
        assert r["kappa"] is None          # p_e = 1: undefined, not 1.0

    def test_independent_raters_near_zero(self, spark):
        """Labels assigned independently of each other give kappa ~ 0
        (here EXACTLY 0: agreement equals chance by construction)."""
        from pytest import approx

        from spark_expectations_spark.operators import profiling
        rows = [(["p", "q"][i % 2], ["p", "q"][(i // 2) % 2])
                for i in range(40)]
        df = spark.createDataFrame(rows, "a string, b string")
        r = profiling.cohens_kappa(df, "a", "b").first()
        assert r["kappa"] == approx(0.0)


class TestFellegiSunter:
    def test_score_weights_hand_computed(self, spark):
        import math

        from pytest import approx

        from spark_expectations_spark.operators import linkage
        pairs = spark.createDataFrame(
            [(1, True, True), (2, True, False),
             (3, False, False), (4, None, True)],
            "pid int, a_name boolean, a_zip boolean")
        out = {r["pid"]: (r["match_weight"], r["decision"])
               for r in linkage.fs_score_pairs(
                   pairs, ["a_name", "a_zip"],
                   m=[0.9, 0.8], u=[0.1, 0.2],
                   lower=0.0, upper=4.0).collect()}
        wa, da = math.log2(0.9 / 0.1), math.log2(0.1 / 0.9)
        wz, dz = math.log2(0.8 / 0.2), math.log2(0.2 / 0.8)
        assert out[1][0] == approx(wa + wz) and out[1][1] == "match"
        assert out[2][0] == approx(wa + dz) and out[2][1] == "possible"
        assert out[3][0] == approx(da + dz) and out[3][1] == "non_match"
        # NULL agreement counts as disagreement
        assert out[4][0] == approx(da + wz)

    def test_score_validation(self, spark):
        import pytest as _pytest

        from spark_expectations_spark.operators import linkage
        pairs = spark.createDataFrame([(1, True)], "pid int, a boolean")
        with _pytest.raises(ValueError, match="need 0 < u"):
            linkage.fs_score_pairs(pairs, ["a"], m=[0.2], u=[0.5])
        with _pytest.raises(ValueError, match="length"):
            linkage.fs_score_pairs(pairs, ["a"], m=[0.9], u=[0.1, 0.2])
        with _pytest.raises(ValueError, match="at least one"):
            linkage.fs_score_pairs(pairs, [], m=[], u=[])

    def test_em_recovers_planted_mixture(self, spark):
        """Pairs drawn from a known two-class mixture: EM's (m, u, p)
        must land near the planted parameters, and scoring with them
        must separate the classes."""
        import random

        from spark_expectations_spark.operators import linkage
        rng = random.Random(7)
        # >= 3 fields: the 2-field latent-class model is famously
        # under-identified (4 patterns for 5 parameters)
        true_m, true_u, true_p = [0.95, 0.85, 0.9], [0.05, 0.2, 0.1], 0.3
        rows = []
        for i in range(4000):
            is_match = rng.random() < true_p
            probs = true_m if is_match else true_u
            rows.append((i, is_match,
                         rng.random() < probs[0],
                         rng.random() < probs[1],
                         rng.random() < probs[2]))
        df = spark.createDataFrame(
            rows,
            "pid int, truth boolean, a1 boolean, a2 boolean, a3 boolean")
        m, u, p = linkage.fs_estimate_mu(
            df, ["a1", "a2", "a3"], match_prior=0.5)
        assert abs(p - true_p) < 0.08
        assert abs(m[0] - true_m[0]) < 0.08 and abs(u[0] - true_u[0]) < 0.08
        scored = linkage.fs_score_pairs(
            df, ["a1", "a2", "a3"], m=m, u=u, lower=0.0, upper=0.0)
        # decisions at a single 0 threshold: most true matches score
        # positive, most non-matches negative
        agree = scored.filter(
            "(match_weight >= 0) = truth").count() / 4000
        assert agree > 0.8

    def test_em_guards(self, spark):
        import pytest as _pytest

        from spark_expectations_spark.operators import linkage
        empty = spark.createDataFrame([], "a boolean")
        with _pytest.raises(ValueError, match="no candidate pairs"):
            linkage.fs_estimate_mu(empty, ["a"])
        df = spark.createDataFrame([(True,)], "a boolean")
        with _pytest.raises(ValueError, match="match_prior"):
            linkage.fs_estimate_mu(df, ["a"], match_prior=1.5)


class TestWeightedCosineJoin:
    def _weights(self, spark, pairs):
        return spark.createDataFrame(pairs, "token string, weight double")

    def test_known_cosines(self, spark):
        import math

        from pytest import approx

        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, ["a", "b"]), (2, ["c"])],
                                  "lid int, ls array<string>")
        R = spark.createDataFrame([(10, ["a", "b"]), (11, ["a", "c"])],
                                  "rid int, rs array<string>")
        w = self._weights(spark, [("a", 2.0), ("b", 1.0), ("c", 3.0)])
        got = {(r["lid"], r["rid"]): (r["n_common"], r["dot"], r["cosine"])
               for r in linkage.weighted_cosine_join(
                   L, R, "lid", "ls", "rid", "rs", w,
                   threshold=0.5).collect()}
        # (1,10): dot = 4+1 = 5, norms sqrt(5)*sqrt(5) -> cos 1.0
        assert got[(1, 10)] == (2, 5.0, approx(1.0))
        # (1,11): dot = 4, norms sqrt(5)*sqrt(13) -> 4/8.062 = 0.496 < .5
        assert (1, 11) not in got
        # (2,11): dot = 9, norms 3*sqrt(13) -> 0.832
        assert got[(2, 11)][2] == approx(9 / (3 * math.sqrt(13)))

    def test_unweighted_tokens_contribute_nothing(self, spark):
        from pytest import approx

        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, ["a", "junk"])],
                                  "lid int, ls array<string>")
        R = spark.createDataFrame([(2, ["a", "other"])],
                                  "rid int, rs array<string>")
        w = self._weights(spark, [("a", 1.0)])
        r = linkage.weighted_cosine_join(
            L, R, "lid", "ls", "rid", "rs", w, threshold=0.9).first()
        assert r["cosine"] == approx(1.0)  # only 'a' carries weight

    def test_differential_vs_bruteforce(self, spark):
        """Random small corpora + random integer weights: the prefix
        filter must lose NOTHING vs brute-force weighted cosine."""
        import itertools
        import math
        import random

        from pytest import approx

        from spark_expectations_spark.operators import linkage
        rng = random.Random(11)
        vocab = [f"t{i}" for i in range(12)]
        wmap = {t: float(rng.randint(1, 9)) for t in vocab}
        mk = lambda: sorted(rng.sample(vocab, rng.randint(1, 6)))
        lrows = [(i, mk()) for i in range(15)]
        rrows = [(100 + i, mk()) for i in range(15)]
        L = spark.createDataFrame(lrows, "lid int, ls array<string>")
        R = spark.createDataFrame(rrows, "rid int, rs array<string>")
        w = self._weights(spark, list(wmap.items()))
        t = 0.7
        got = {(r["lid"], r["rid"]): r["cosine"]
               for r in linkage.weighted_cosine_join(
                   L, R, "lid", "ls", "rid", "rs", w,
                   threshold=t).collect()}
        expect = {}
        for (li, ls), (ri, rs) in itertools.product(lrows, rrows):
            dot = sum(wmap[x] ** 2 for x in set(ls) & set(rs))
            na = math.sqrt(sum(wmap[x] ** 2 for x in ls))
            nb = math.sqrt(sum(wmap[x] ** 2 for x in rs))
            cos = dot / (na * nb)
            if cos >= t:
                expect[(li, ri)] = cos
        assert set(got) == set(expect)
        for k in got:
            assert got[k] == approx(expect[k])

    @pytest.mark.parametrize("hash_tokens", [False, True])
    def test_duplicate_weight_rows_take_the_max(self, spark, hash_tokens):
        """A token with several weight rows counts once, at its largest
        weight: the result equals the run over the deduplicated table."""
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, ["a", "b", "c"]), (2, ["c", "d"])],
                                  "lid int, ls array<string>")
        R = spark.createDataFrame([(10, ["a", "b"]), (11, ["c", "d"])],
                                  "rid int, rs array<string>")
        clean = [("a", 2.0), ("b", 1.0), ("c", 3.0), ("d", 1.0)]
        dup = clean + [("a", 1.0), ("a", 2.0), ("c", 0.5), ("d", 1.0)]

        def run(pairs):
            return sorted(map(tuple, linkage.weighted_cosine_join(
                L, R, "lid", "ls", "rid", "rs",
                self._weights(spark, pairs), threshold=0.5,
                hash_tokens=hash_tokens).collect()))

        want = run(clean)
        # squared norms: lid 1 -> 14, lid 2 -> 10, rid 10 -> 5, rid 11
        # -> 10; (1,10) 5/sqrt(70), (1,11) 9/sqrt(140), (2,11) 1.0
        assert [r[:4] for r in want] == [
            (1, 10, 2, 5.0), (1, 11, 1, 9.0), (2, 11, 2, 10.0)]
        assert run(dup) == want

    def test_threshold_validation(self, spark):
        import pytest as _pytest

        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame([(1, ["a"])], "lid int, ls array<string>")
        w = self._weights(spark, [("a", 1.0)])
        with _pytest.raises(ValueError, match="threshold"):
            linkage.weighted_cosine_join(
                L, L.selectExpr("lid as rid", "ls as rs"),
                "lid", "ls", "rid", "rs", w, threshold=0.0)


class TestWeightedCosineCarriedVerify:
    """r17: weighted_cosine_join's verify moved from a (rid, tok)
    re-join + pair groupBy to a map-side intersect over carried
    string-encoded (tok, w2) arrays. Pins the encoding's edge cases."""

    def _run(self, spark, lrows, rrows, wrows, threshold=0.5):
        from spark_expectations_spark.operators import linkage
        L = spark.createDataFrame(lrows, "lid int, sa array<string>")
        R = spark.createDataFrame(rrows, "rid int, sb array<string>")
        W = spark.createDataFrame(wrows, "token string, weight double")
        return linkage.weighted_cosine_join(
            L, R, "lid", "sa", "rid", "sb", W, threshold=threshold)

    def test_matches_reference_dot(self, spark):
        # weights with non-trivial double reprs (parse-back must be
        # exact) and a token CONTAINING the \x01 separator
        sep_tok = "a\x01b"
        wrows = [("x", 0.1), ("y", 3.7), (sep_tok, 2.5), ("z", 1.0)]
        lrows = [(1, ["x", "y", sep_tok]), (2, ["z"])]
        rrows = [(10, ["x", "y", sep_tok, "z"]), (11, ["y"])]
        got = {(r["lid"], r["rid"]): (r["n_common"], r["dot"], r["cosine"])
               for r in self._run(spark, lrows, rrows, wrows).collect()}
        import math
        w = dict(wrows)

        def ref(la, ra):
            common = set(la) & set(ra) & set(w)
            dot = sum(w[t] ** 2 for t in sorted(common))
            na = sum(w[t] ** 2 for t in la if t in w)
            nb = sum(w[t] ** 2 for t in ra if t in w)
            return common, dot, na, nb

        for (lid, la) in lrows:
            for (rid, ra) in rrows:
                common, dot, na, nb = ref(la, ra)
                expect = dot * dot >= 0.25 * na * nb and common
                if expect:
                    assert (lid, rid) in got, (lid, rid)
                    n, d, c = got[(lid, rid)]
                    assert n == len(common)
                    assert d == pytest.approx(dot, rel=1e-12)
                    assert c == pytest.approx(
                        dot / math.sqrt(na * nb), rel=1e-12)
                else:
                    assert (lid, rid) not in got

    def test_pair_per_match_no_duplicates(self, spark):
        # a pair meeting on several prefix tokens must emit ONE row
        wrows = [("a", 5.0), ("b", 5.0), ("c", 5.0)]
        lrows = [(1, ["a", "b", "c"])]
        rrows = [(9, ["a", "b", "c"])]
        out = self._run(spark, lrows, rrows, wrows, threshold=0.9).collect()
        assert len(out) == 1 and out[0]["n_common"] == 3
        assert out[0]["cosine"] == pytest.approx(1.0)


class TestLloydKmeans:
    def _run(self, spark, rows, **kw):
        from spark_expectations_spark.operators import similarity as sim
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        out = sim.lloyd_kmeans(df, **kw).collect()
        cents = {}
        stats = {}
        for r in out:
            cents.setdefault(r["centroid_id"], {})[r["pos"]] = r["coord"]
            stats[r["centroid_id"]] = (r["n_assigned"], r["wcss"])
        return cents, stats

    def test_two_well_separated_1d_clusters(self, spark):
        # seeds = vectors of the 2 smallest ids: [0.0] and [1.0]; one
        # update lands the true means and the second leaves them fixed
        cents, stats = self._run(
            spark,
            [(1, [0.0]), (2, [1.0]), (3, [10.0]), (4, [11.0])],
            k=2, iterations=2)
        assert cents[0] == {0: 0.5} and cents[1] == {0: 10.5}
        assert stats[0] == (2, 0.5) and stats[1] == (2, 0.5)

    def test_tie_breaks_low_cid_and_empty_cluster_keeps_centroid(
            self, spark):
        # duplicate seed vectors: every point is equidistant to c0/c1,
        # so ties send ALL of them to c0 — c1 must empty out and keep
        # its previous centroid with n_assigned = 0, wcss = 0.0
        cents, stats = self._run(
            spark, [(1, [0.0]), (2, [0.0]), (3, [6.0])],
            k=2, iterations=1)
        # the UPDATE saw every point tie to c0 (both centroids [0.0],
        # tie -> lowest cid), so c1 emptied and kept its seed centroid
        assert cents[0] == {0: 2.0}          # mean of 0, 0, 6
        assert cents[1] == {0: 0.0}          # kept, never updated

    def test_final_assignment_against_final_centroids(self, spark):
        cents, stats = self._run(
            spark, [(1, [0.0]), (2, [0.0]), (3, [6.0])],
            k=2, iterations=1)
        # membership is measured against the FINAL centroids
        # (c0=[2.0], c1=[0.0]), not the update-time assignment: the two
        # zero-vectors land on c1 (dist 0 vs 4), [6.0] stays on c0
        assert stats[0] == (1, 16.0)
        assert stats[1] == (2, 0.0)

    def test_zero_iterations_is_seed_measurement(self, spark):
        cents, stats = self._run(
            spark, [(1, [1.0]), (2, [5.0]), (3, [5.5])],
            k=2, iterations=0)
        assert cents[0] == {0: 1.0} and cents[1] == {0: 5.0}
        assert stats[0] == (1, 0.0)
        assert stats[1] == (2, 0.25)

    def test_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import similarity as sim
        df = spark.createDataFrame(
            [(1, [0.0])], "vec_id long, embedding array<double>")
        with _pytest.raises(ValueError, match="k must"):
            sim.lloyd_kmeans(df, k=0)
        with _pytest.raises(ValueError, match="iterations"):
            sim.lloyd_kmeans(df, iterations=-1)
        empty = df.filter("vec_id > 99")
        with _pytest.raises(ValueError, match="no usable vectors"):
            sim.lloyd_kmeans(empty, k=1)

    def test_k_larger_than_corpus(self, spark):
        # only 2 usable seeds exist for k asking more: seeds are the
        # corpus itself; clusters behave like k = n
        cents, stats = self._run(
            spark, [(1, [0.0]), (2, [4.0])], k=2, iterations=1)
        assert cents[0] == {0: 0.0} and cents[1] == {0: 4.0}
        assert stats[0] == (1, 0.0) and stats[1] == (1, 0.0)


class TestKmeansClusterQA:
    def _qa(self, spark, vecs, cents, **kw):
        from spark_expectations_spark.operators import similarity as sim
        schema = "vec_id long, embedding array<double>"
        if kw.get("label_col"):
            schema += ", label int"
        corpus = spark.createDataFrame(vecs, schema)
        cl = spark.createDataFrame(
            [(cid, pos, float(v)) for cid, cv in cents
             for pos, v in enumerate(cv)],
            "centroid_id int, pos int, coord double")
        out = sim.kmeans_cluster_qa(corpus, cl, **kw)
        return {r["centroid_id"]: r for r in out.collect()}

    def test_hand_computed_two_clusters_with_purity(self, spark):
        got = self._qa(
            spark,
            [(1, [0.0], 0), (2, [1.0], 0), (3, [10.0], 1), (4, [11.0], 1)],
            [(0, [0.5]), (1, [10.5])], label_col="label")
        for cid in (0, 1):
            r = got[cid]
            assert r["n"] == 2
            assert r["avg_intra"] == 0.5
            # s = (b-a)/b per member: 10/10.5 and 9/9.5, mean -> 0.9499
            assert r["silhouette"] == pytest.approx(0.9499)
            assert r["purity"] == 1.0

    def test_equidistant_tie_goes_low_cid_silhouette_zero(self, spark):
        got = self._qa(spark, [(1, [1.0])], [(0, [0.0]), (1, [2.0])])
        assert got[0]["n"] == 1 and got[1]["n"] == 0
        assert got[0]["silhouette"] == 0.0     # a == b -> s = 0

    def test_empty_cluster_gets_null_metrics_row(self, spark):
        got = self._qa(spark, [(1, [0.0]), (2, [0.2])],
                       [(0, [0.1]), (1, [99.0])])
        r = got[1]
        assert r["n"] == 0
        assert r["avg_intra"] is None and r["silhouette"] is None

    def test_null_labels_excluded_from_purity(self, spark):
        got = self._qa(
            spark,
            [(1, [0.0], 7), (2, [0.1], 7), (3, [0.2], 5), (4, [0.3], None),
             (5, [50.0], None)],
            [(0, [0.1]), (1, [50.0])], label_col="label")
        # cluster 0: labels 7,7,5 (+1 NULL dropped) -> purity 2/3
        assert got[0]["n"] == 4
        assert got[0]["purity"] == pytest.approx(round(2 / 3, 4))
        # cluster 1: its only member is unlabeled -> purity NULL
        assert got[1]["n"] == 1 and got[1]["purity"] is None

    def test_vector_on_duplicated_centroid_silhouette_zero(self, spark):
        got = self._qa(spark, [(1, [3.0])], [(0, [3.0]), (1, [3.0])])
        assert got[0]["n"] == 1
        assert got[0]["avg_intra"] == 0.0 and got[0]["silhouette"] == 0.0


class TestLloydKmeansSampled:
    def test_training_ignores_out_of_sample_measure_includes_it(
            self, spark):
        """sample_fraction trains on the md5-bucket half but the final
        pass measures everyone. ids 1-5 hash OUT of the 0.5 sample and
        6, 9 hash IN (md5 coin, precomputed); the far outlier at id=1
        must therefore not move any centroid, yet must appear in the
        final membership counts."""
        from spark_expectations_spark.operators import similarity as sim
        rows = [(6, [0.0]), (9, [4.0]),       # in-sample: the seeds
                (1, [1000.0]),                # out-of-sample outlier
                (2, [0.2]), (3, [3.8])]       # out-of-sample fillers
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        out = sim.lloyd_kmeans(df, k=2, iterations=1,
                               sample_fraction=0.5)
        cents = {(r["centroid_id"], r["pos"]): r["coord"]
                 for r in out.collect()}
        stats = {r["centroid_id"]: (r["n_assigned"], r["wcss"])
                 for r in out.collect()}
        # training saw only ids 6 and 9 -> each is its own cluster and
        # the single update leaves the centroids on the seed points
        assert cents[(0, 0)] == 0.0 and cents[(1, 0)] == 4.0
        # the final pass measures ALL 5 vectors (outlier included)
        assert stats[0][0] + stats[1][0] == 5
        # outlier lands on c1 (|1000-4| < |1000-0|) with huge wcss
        assert stats[1][0] == 3 and stats[1][1] > 990000.0

    def test_fraction_one_matches_unsampled(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        df = spark.createDataFrame(
            [(1, [0.0]), (2, [1.0]), (3, [10.0]), (4, [11.0])],
            "vec_id long, embedding array<double>")
        a = sorted(map(tuple, sim.lloyd_kmeans(
            df, k=2, iterations=2).collect()))
        b = sorted(map(tuple, sim.lloyd_kmeans(
            df, k=2, iterations=2, sample_fraction=1.0).collect()))
        assert a == b


class TestNonFiniteVectors:
    """A vector with a NaN or ±inf element has no squared-L2 distance, so
    every codebook operator puts it in no cluster, as it does a NULL
    vector."""

    SCHEMA = "vec_id long, embedding array<double>"
    CLEAN = [(1, [0.0]), (2, [1.0]), (3, [10.0]), (4, [11.0])]

    def _codebook(self, spark):
        return spark.createDataFrame(
            [(0, 0, 0.5), (1, 0, 10.0)],
            "centroid_id int, pos int, coord double")

    @pytest.mark.parametrize("bad", [float("nan"), float("inf")])
    @pytest.mark.parametrize("iterations", [0, 2])
    def test_lloyd_kmeans_returns_the_clean_codebook(self, spark, bad,
                                                     iterations):
        from spark_expectations_spark.operators import similarity as sim

        def run(rows):
            out = sim.lloyd_kmeans(spark.createDataFrame(rows, self.SCHEMA),
                                   k=2, iterations=iterations)
            return sorted(map(tuple, out.collect()))

        # the smallest id: were it usable, it would seed centroid 0
        assert run([(0, [bad]), *self.CLEAN]) == run(self.CLEAN)

    def test_cluster_qa_leaves_the_row_out_of_n(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        corpus = spark.createDataFrame(
            [(1, [0.0]), (2, [1.0]), (3, [float("nan")]),
             (4, [float("-inf")]), (5, [10.0])], self.SCHEMA)
        got = {r["centroid_id"]: r for r in
               sim.kmeans_cluster_qa(corpus, self._codebook(spark))
               .collect()}
        assert (got[0]["n"], got[1]["n"]) == (2, 1)
        assert got[0]["avg_intra"] == 0.5 and got[1]["avg_intra"] == 0.0

    def test_drift_monitor_counts_finite_rows_only(self, spark, tmp_path):
        from spark_expectations_spark import streaming as st
        out = str(tmp_path / "drift")
        step = st.embedding_drift_monitor(
            self._codebook(spark), {0: 0.5, 1: 0.5}, out_path=out)
        step(spark.createDataFrame(
            [(1, [9.9]), (2, [float("nan")]), (3, [10.1])],
            "id long, embedding array<double>"), 0)
        assert spark.read.parquet(out).first()["n"] == 2

    def test_kmeans_update_stream_moves_no_centroid_for_it(self, spark,
                                                           tmp_path):
        from spark_expectations_spark import streaming as st
        path = str(tmp_path / "codebook")
        st.init_codebook_state(spark.createDataFrame(
            [(0, 0, 0.0, 2), (1, 0, 10.0, 2)],
            "centroid_id int, pos int, coord double, n_assigned long"),
            path)
        st.kmeans_update_stream(path)(spark.createDataFrame(
            [(1, [1.0]), (2, [float("nan")]), (3, [3.0])],
            "id long, embedding array<double>"), 0)
        got = {r["centroid_id"]: (r["coord"], r["n_seen"]) for r in
               spark.read.parquet(path).filter("_batch_id = 0").collect()}
        assert got == {0: (1.0, 4), 1: (10.0, 2)}


class TestHardNegatives:
    def test_label_mask_before_topk_and_null_labels_dropped(self, spark):
        """Positives crowding the head must NOT consume top-k slots:
        the query's nearest same-label vectors are skipped and the k
        nearest OTHER-label ones returned; NULL-labeled rows play no
        role on either side."""
        from spark_expectations_spark.operators import similarity as sim
        rows = [
            (0, [1.0, 0.0], 7),             # the query
            (1, [0.999, 0.01], 7),          # nearest overall: positive
            (2, [0.99, 0.02], 7),           # also positive
            (3, [0.9, 0.1], 3),             # nearest negative
            (4, [0.8, 0.2], 4),             # 2nd negative
            (5, [0.95, 0.05], None),        # closer, but unlabeled
            (6, [-1.0, 0.0], 3),            # far negative
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int")
        out = sim.hard_negatives(
            df, df.filter("vec_id = 0"), k=2).collect()
        got = [(r["rank"], r["neighbor_id"]) for r in
               sorted(out, key=lambda r: r["rank"])]
        assert got == [(1, 3), (2, 4)]

    def test_unlabeled_query_returns_nothing(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        df = spark.createDataFrame(
            [(0, [1.0], None), (1, [1.0], 2)],
            "vec_id long, embedding array<double>, label int")
        assert sim.hard_negatives(df, df.filter("vec_id = 0")).count() == 0


class TestPcaProject:
    def _corpus(self, spark, seed=3, n=300):
        import random
        rng = random.Random(seed)
        rows = []
        for i in range(n):
            a, b = rng.gauss(2, 3), rng.gauss(-1, 0.5)
            rows.append((i, [a, b, a * 0.5 + rng.gauss(0, 0.1)]))
        return rows, spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def test_matches_numpy_reference(self, spark):
        import numpy as np
        from spark_expectations_spark.operators import similarity as sim
        rows, df = self._corpus(spark)
        out = {r["vec_id"]: r["pca"]
               for r in sim.pca_project(df, n_components=2).collect()}
        x = np.array([v for _, v in rows])
        mu = x.mean(axis=0)
        cov = (x - mu).T @ (x - mu) / len(x)
        lam, u = np.linalg.eigh(cov)
        order = np.argsort(-lam, kind="stable")[:2]
        comps = u[:, order]
        flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(2)])
        z = (x - mu) @ (comps * flip)
        for i, (rid, _) in enumerate(rows):
            assert np.allclose(out[rid], z[i], atol=1e-9), rid

    def test_projected_dims_uncorrelated_variance_descending(self, spark):
        import numpy as np
        from spark_expectations_spark.operators import similarity as sim
        _, df = self._corpus(spark, seed=11)
        z = np.array([r["pca"] for r in
                      sim.pca_project(df, n_components=3).collect()])
        assert np.abs(z.mean(axis=0)).max() < 1e-9
        cov = np.cov(z, rowvar=False, bias=True)
        v = np.diag(cov)
        assert v[0] >= v[1] >= v[2]
        off = cov - np.diag(v)
        assert np.abs(off).max() < 1e-9

    def test_nulls_pass_through_and_clamp_and_validation(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        import pytest as _pytest
        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, None), (3, [0.0, 1.0]),
             (4, [2.0, 0.0])],
            "vec_id long, embedding array<double>")
        out = {r["vec_id"]: r["pca"]
               for r in sim.pca_project(df, n_components=99).collect()}
        assert out[2] is None
        assert len(out[1]) == 2               # clamped to d
        with _pytest.raises(ValueError, match="n_components"):
            sim.pca_project(df, n_components=0)

    def test_pca_check_invariants_and_raw_moments(self, spark):
        """The driver-gateable twin (r10 verdict task 2, the
        whiten_check recipe): raw per-dim mean/sd match numpy's for ALL
        input dims, the projected-space deviations round to exactly
        0.0 for the kept components, and rows past n_components carry
        literal zeros — while the RAW data (negative control) is far
        from mean-0/uncorrelated, so the invariants discriminate."""
        import numpy as np
        from spark_expectations_spark.operators import similarity as sim
        rows, df = self._corpus(spark, seed=5)
        got = {r["pos"]: r for r in
               sim.pca_check(df, n_components=2).collect()}
        assert set(got) == {0, 1, 2}
        x = np.array([v for _, v in rows])
        for i in range(3):
            assert got[i]["mu"] == pytest.approx(
                round(float(x[:, i].mean()), 4))
            assert got[i]["sd"] == pytest.approx(
                round(float(x[:, i].std()), 4))
            assert got[i]["mean_dev"] == 0.0
            assert got[i]["offdiag_max"] == 0.0
            assert got[i]["order_dev"] == 0.0
        # negative control: raw cloud is shifted and correlated
        cov = np.cov(x, rowvar=False, bias=True)
        assert round(abs(cov[0, 2]), 3) != 0.0
        assert round(abs(float(x[:, 0].mean())), 4) != 0.0


class TestLeakageSafeSplit:
    def test_chained_dups_share_a_split_and_report_is_zero(self, spark):
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [(i,) for i in range(1, 40)], "doc_id long")
        # chain 1-2, 2-3 plus a separate pair 10-11: transitivity must
        # hold through the chain, not just direct edges
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        out = sampling.leakage_safe_split(
            df, pairs, "doc_id", {"train": 0.5, "eval": 0.5})
        got = {r["doc_id"]: r["split"] for r in out.collect()}
        assert got[1] == got[2] == got[3]
        assert got[10] == got[11]
        rep = sampling.split_leakage_report(
            out, pairs, "doc_id").first()
        assert rep["n_pairs"] == 3 and rep["n_leaked"] == 0
        assert rep["leak_rate"] == 0.0
        # every doc keeps exactly one assignment
        assert len(got) == 39

    def test_component_key_is_min_member_id(self, spark):
        """Members key by the component's MIN id: doc 3's split must
        equal a singleton split of key 1, not of key 3."""
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
        pairs = spark.createDataFrame([(1, 2), (2, 3)],
                                      "id_a long, id_b long")
        out = {r["doc_id"]: r["split"]
               for r in sampling.leakage_safe_split(
                   df, pairs, "doc_id",
                   {"train": 0.5, "eval": 0.5}).collect()}
        solo = {r["doc_id"]: r["split"]
                for r in sampling.with_split(
                    df, "doc_id", {"train": 0.5, "eval": 0.5}).collect()}
        assert out[3] == solo[1]

    def test_report_counts_leaks_and_ignores_missing_sides(self, spark):
        from spark_expectations_spark.operators import sampling
        splits = spark.createDataFrame(
            [(1, "train"), (2, "eval"), (3, "train")],
            "doc_id long, split string")
        pairs = spark.createDataFrame(
            [(1, 2),     # leaked (train vs eval)
             (1, 3),     # same split
             (1, 99)],   # 99 absent from splits -> not counted
            "id_a long, id_b long")
        r = sampling.split_leakage_report(splits, pairs, "doc_id").first()
        assert r["n_pairs"] == 2 and r["n_leaked"] == 1
        assert r["leak_rate"] == 0.5


class TestCentroidsFromLong:
    def test_positions_sort_regardless_of_input_order(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        long = spark.createDataFrame(
            [(1, 2, 30.0), (0, 1, 2.0), (1, 0, 10.0),
             (0, 0, 1.0), (0, 2, 3.0), (1, 1, 20.0)],
            "centroid_id int, pos int, coord double")
        got = {r["centroid_id"]: r["centroid"]
               for r in sim.centroids_from_long(long).collect()}
        assert got[0] == [1.0, 2.0, 3.0]
        assert got[1] == [10.0, 20.0, 30.0]


class TestKrippendorffAlpha:
    def _alpha(self, spark, rows):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame(rows, "unit long, label string")
        return profiling.krippendorff_alpha(df, "unit", "label").first()

    def test_worked_example(self, spark):
        """2 coders, 3 units: (a,a), (b,b), (a,b) -> D_o = 2,
        D_e = (36 - 18)/5 = 3.6, alpha = 1 - 2/3.6 = 0.4444..."""
        r = self._alpha(spark, [(1, "a"), (1, "a"), (2, "b"), (2, "b"),
                                (3, "a"), (3, "b")])
        assert r["n_units"] == 3 and r["n_ratings"] == 6
        assert r["d_o"] == 2.0
        assert r["d_e"] == pytest.approx(3.6)
        assert r["alpha"] == pytest.approx(1 - 2 / 3.6)

    def test_perfect_agreement_and_degenerate(self, spark):
        r = self._alpha(spark, [(1, "a"), (1, "a"), (2, "b"),
                                (2, "b"), (2, "b")])
        assert r["d_o"] == 0.0 and r["alpha"] == 1.0
        # every rating the same label: D_e = 0 -> NULL, not 1.0
        r2 = self._alpha(spark, [(1, "a"), (1, "a"), (2, "a"), (2, "a")])
        assert r2["alpha"] is None

    def test_unpairable_and_null_ratings_excluded(self, spark):
        """A unit with one rating and NULL ratings carry no evidence:
        the result must equal the worked example exactly."""
        rows = [(1, "a"), (1, "a"), (2, "b"), (2, "b"),
                (3, "a"), (3, "b"),
                (4, "q"),            # unpairable unit
                (5, None), (1, None)]  # NULL ratings
        r = self._alpha(spark, rows)
        assert r["n_units"] == 3 and r["n_ratings"] == 6
        assert r["alpha"] == pytest.approx(1 - 2 / 3.6)

    def test_three_raters_per_unit(self, spark):
        """m_u = 3: unit (a,a,b) contributes (9 - (4+1))/2 = 2.0
        off-diagonal mass."""
        r = self._alpha(spark, [(1, "a"), (1, "a"), (1, "b")])
        assert r["d_o"] == 2.0
        # marginals a=2,b=1,n=3: D_e = (9-5)/2 = 2.0 -> alpha = 0
        assert r["d_e"] == pytest.approx(2.0)
        assert r["alpha"] == 0.0

    # --- textbook worked example (Krippendorff 2011, "Computing
    # Krippendorff's Alpha-Reliability": 4 observers x 12 units, unit
    # 12 unpairable, several missing ratings). Published results:
    # alpha_nominal = .743, alpha_ordinal = .815, alpha_interval = .849.
    _TEXTBOOK = {
        'A': [1, 2, 3, 3, 2, 1, 4, 1, 2, None, None, None],
        'B': [1, 2, 3, 3, 2, 2, 4, 1, 2, 5, None, 3],
        'C': [None, 3, 3, 3, 2, 3, 4, 2, 2, 5, 1, None],
        'D': [1, 2, 3, 3, 2, 4, 4, 1, 2, 5, 1, None],
    }

    def _textbook_df(self, spark):
        rows = [(i + 1, self._TEXTBOOK[o][i])
                for o in 'ABCD' for i in range(12)]
        return spark.createDataFrame(rows, "unit int, rating int")

    def test_textbook_nominal(self, spark):
        from spark_expectations_spark.operators import profiling
        r = profiling.krippendorff_alpha(
            self._textbook_df(spark), "unit", "rating").first()
        assert r["n_units"] == 11 and r["n_ratings"] == 40
        assert r["d_o"] == pytest.approx(8.0)
        assert r["alpha"] == pytest.approx(0.7434, abs=1e-4)

    def test_textbook_interval(self, spark):
        """Interval metric on the same matrix: D_o = 17.333...,
        D_e = 4480/39, alpha = .849 (the LLM-judge 1-5 rating case)."""
        from spark_expectations_spark.operators import profiling
        r = profiling.krippendorff_alpha(
            self._textbook_df(spark), "unit", "rating",
            metric="interval").first()
        assert r["n_units"] == 11 and r["n_ratings"] == 40
        assert r["d_o"] == pytest.approx(17.3333, abs=1e-4)
        assert r["d_e"] == pytest.approx(4480 / 39)
        assert r["alpha"] == pytest.approx(0.8491, abs=1e-4)

    def test_textbook_ordinal(self, spark):
        """Ordinal metric: cumulative-marginal distances give
        alpha = .815 on the same matrix."""
        from spark_expectations_spark.operators import profiling
        r = profiling.krippendorff_alpha(
            self._textbook_df(spark), "unit", "rating",
            metric="ordinal").first()
        assert r["n_units"] == 11 and r["n_ratings"] == 40
        assert r["d_o"] == pytest.approx(1891.0)
        assert r["alpha"] == pytest.approx(0.8154, abs=1e-4)

    def test_interval_equals_nominal_on_binary_scaled(self, spark):
        """On {0, 1} ratings interval and nominal distances coincide
        (δ² is 1 for disagreement either way) — a cheap differential
        between the moments path and the label-count path."""
        from spark_expectations_spark.operators import profiling
        rows = [(1, 0), (1, 0), (2, 1), (2, 1), (3, 0), (3, 1),
                (4, 1), (4, 0), (4, 1)]
        df = spark.createDataFrame(rows, "unit int, rating int")
        rn = profiling.krippendorff_alpha(df, "unit", "rating").first()
        ri = profiling.krippendorff_alpha(
            df, "unit", "rating", metric="interval").first()
        assert ri["d_o"] == pytest.approx(rn["d_o"])
        assert ri["d_e"] == pytest.approx(rn["d_e"])
        assert ri["alpha"] == pytest.approx(rn["alpha"])

    def test_metric_validation_and_degenerate_interval(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame([(1, 3), (1, 3)],
                                   "unit int, rating int")
        with _pytest.raises(ValueError, match="metric"):
            profiling.krippendorff_alpha(df, "unit", "rating",
                                         metric="ratio")
        # all ratings identical: D_e = 0 -> NULL for every metric
        for m in ("interval", "ordinal"):
            r = profiling.krippendorff_alpha(df, "unit", "rating",
                                             metric=m).first()
            assert r["alpha"] is None, m

    @staticmethod
    def _py_weight(unit, b, salt="kalpha"):
        import hashlib
        h = hashlib.md5(f"{salt}{b // 8}|{unit}".encode()).hexdigest()
        u = int(h[4 * (b % 8):4 * (b % 8) + 4], 16) / 65536.0
        from spark_expectations_spark.operators.profiling import \
            _POISSON1_CDF
        for k, t in enumerate(_POISSON1_CDF):
            if u < t:
                return k
        return len(_POISSON1_CDF)

    def test_ci_matches_exact_enumeration_nominal(self, spark):
        """Replica alphas must equal a pure-python recomputation of
        the unit-resampled nominal alpha with the same md5 Poisson
        weights — draw for draw (the bootstrap_ci precedent)."""
        from spark_expectations_spark.operators import profiling
        units = {u: ["a" if (u * 7 + j) % 3 else "b"
                     for j in range(3)] for u in range(1, 25)}
        rows = [(u, lab) for u, labs in units.items() for lab in labs]
        df = spark.createDataFrame(rows, "unit long, label string")
        B = 8
        got = profiling.krippendorff_alpha(
            df, "unit", "label", ci=True, replicas=B,
            ci_alpha=0.25, digits=9).first()
        alphas = []
        for b in range(B):
            dob = 0.0
            nl = {}
            for u, labs in units.items():
                w = self._py_weight(u, b)
                m = len(labs)
                cnt = {}
                for lab in labs:
                    cnt[lab] = cnt.get(lab, 0) + 1
                dob += w * (m * m - sum(c * c for c in cnt.values())) \
                    / (m - 1)
                for lab, c in cnt.items():
                    nl[lab] = nl.get(lab, 0) + w * c
            nb = sum(nl.values())
            if nb < 2:
                continue
            de = (nb * nb - sum(c * c for c in nl.values())) / (nb - 1)
            if de <= 0:
                continue
            alphas.append(1.0 - dob / de)
        alphas.sort()
        used = len(alphas)
        mbar = sum(alphas) / used
        se = (sum((x - mbar) ** 2 for x in alphas) / used) ** 0.5
        lo = int(0.125 * used)
        assert got["replicas"] == used
        assert got["se"] == pytest.approx(se, abs=1e-9)
        assert got["ci_lo"] == pytest.approx(alphas[lo], abs=1e-9)
        assert got["ci_hi"] == pytest.approx(alphas[used - 1 - lo],
                                             abs=1e-9)
        # the point estimate columns are untouched by the CI machinery
        plain = profiling.krippendorff_alpha(df, "unit", "label").first()
        assert got["alpha"] == plain["alpha"]
        assert got["d_o"] == plain["d_o"] and got["d_e"] == plain["d_e"]

    def test_ci_runs_for_interval_and_ordinal(self, spark):
        from spark_expectations_spark.operators import profiling
        df = self._textbook_df(spark)
        for m in ("interval", "ordinal"):
            r = profiling.krippendorff_alpha(
                df, "unit", "rating", metric=m, ci=True,
                replicas=16).first()
            assert r["se"] > 0, m
            assert r["ci_lo"] <= r["ci_hi"], m
            assert r["replicas"] <= 16
            # point columns must equal the plain run
            p = profiling.krippendorff_alpha(df, "unit", "rating",
                                             metric=m).first()
            assert r["alpha"] == p["alpha"], m
            again = profiling.krippendorff_alpha(
                df, "unit", "rating", metric=m, ci=True,
                replicas=16).first()
            assert r == again, m  # deterministic rerun

    def test_ci_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame([(1, "a"), (1, "b")],
                                   "unit long, label string")
        with _pytest.raises(ValueError, match="replicas"):
            profiling.krippendorff_alpha(df, "unit", "label",
                                         ci=True, replicas=1)
        with _pytest.raises(ValueError, match="ci_alpha"):
            profiling.krippendorff_alpha(df, "unit", "label",
                                         ci=True, ci_alpha=0.0)


class TestAlphaCiFusedAction:
    """krippendorff_alpha(ci=True) r16 rework: the point estimate and
    the weighted-D_o aggregate ride the replica-marginals collect as
    broadcast crossJoins — one driver action instead of three. The
    value contract (point == plain run, deterministic replicas) is
    covered by TestKrippendorffAlpha; these pin the rework's edges."""

    def test_empty_input_keeps_the_replica_error(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import profiling
        empty = spark.createDataFrame([], "unit long, label string")
        with _pytest.raises(ValueError, match="non-degenerate"):
            profiling.krippendorff_alpha(empty, "unit", "label",
                                         ci=True, replicas=8)

    def test_all_null_labels_keep_the_replica_error(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame(
            [(1, None), (1, None), (2, None)], "unit long, label string")
        with _pytest.raises(ValueError, match="non-degenerate"):
            profiling.krippendorff_alpha(df, "unit", "label",
                                         ci=True, replicas=8)

    def test_point_columns_survive_the_crossjoin_for_all_metrics(
            self, spark):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame(
            [(u, r, float(v)) for u in range(1, 13)
             for r, v in enumerate([u % 3 + 1, u % 3 + 1, (u % 4) + 1])],
            "unit long, rater int, rating double")
        for m in ("nominal", "interval", "ordinal"):
            got = profiling.krippendorff_alpha(
                df, "unit", "rating", metric=m, ci=True,
                replicas=8).first()
            plain = profiling.krippendorff_alpha(
                df, "unit", "rating", metric=m).first()
            assert got["alpha"] == plain["alpha"], m
            assert got["d_o"] == plain["d_o"], m
            assert got["d_e"] == plain["d_e"], m
            assert got["n_units"] == plain["n_units"], m
            assert got["n_ratings"] == plain["n_ratings"], m


class TestNgramOverlap:
    def _run(self, spark, rows, n=2):
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(rows, "id long, ref string, cand string")
        return {r["id"]: r for r in
                T.ngram_overlap(df, "id", "ref", "cand", n=n).collect()}

    def test_hand_computed_rouge2(self, spark):
        """ref 'the cat sat on the mat' vs cand 'the cat on the mat':
        ref bigrams 5, cand bigrams 4, shared {the cat, on the,
        the mat} = 3 -> P=3/4, R=3/5, F1=6/9."""
        got = self._run(spark, [(1, "the cat sat on the mat",
                                 "the cat on the mat")])
        r = got[1]
        assert r["n_ref_ngrams"] == 5 and r["n_cand_ngrams"] == 4
        assert r["n_match"] == 3
        assert r["precision"] == pytest.approx(0.75)
        assert r["recall"] == pytest.approx(0.6)
        assert r["f1"] == pytest.approx(6 / 9)

    def test_multiset_min_semantics(self, spark):
        """ref 'a a a' has bigram 'a a' TWICE, cand 'a a' once: the
        match is min(2, 1) = 1, not 2 (the set-overlap bug ROUGE's
        clipped counts exist to avoid)."""
        r = self._run(spark, [(1, "a a a", "a a")])[1]
        assert r["n_ref_ngrams"] == 2 and r["n_cand_ngrams"] == 1
        assert r["n_match"] == 1
        assert r["precision"] == pytest.approx(1.0)
        assert r["recall"] == pytest.approx(0.5)

    def test_short_and_null_sides(self, spark):
        """A side with < n tokens has no n-grams: its ratio is NULL;
        f1 is NULL only when both sides are empty. NULL text behaves
        as empty; normalization lowers and trims."""
        got = self._run(spark, [
            (1, "alpha beta gamma", "alpha"),   # cand too short
            (2, None, None),                    # both empty
            (3, "  A  b ", "a b"),              # case/space normalize
        ])
        assert got[1]["precision"] is None
        assert got[1]["recall"] == 0.0 and got[1]["f1"] == 0.0
        assert got[2]["f1"] is None and got[2]["n_match"] == 0
        assert got[3]["n_match"] == 1 and got[3]["f1"] == 1.0

    def test_unigram_mode_and_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import text as T
        r = self._run(spark, [(1, "x y z", "z x q")], n=1)[1]
        assert r["n_match"] == 2          # x and z shared as unigrams
        assert r["recall"] == pytest.approx(2 / 3)
        df = spark.createDataFrame([(1, "a", "a")],
                                   "id long, ref string, cand string")
        with _pytest.raises(ValueError, match="n must be"):
            T.ngram_overlap(df, "id", "ref", "cand", n=0)


class TestNgramOverlapSinglePass:
    """The r16 ngram_overlap rework (one tagged map-explode + conditional
    per-side counts, token-arithmetic sizes) against the pre-r16 shape
    (3x-planted gram-build base, per-side counts, (id, gram) inner
    join). The contract is bit-identical rows."""

    @staticmethod
    def _old_ngram_overlap(df, id_col, ref_col, cand_col, *, n=2):
        from spark_expectations_spark.operators.text import _word_ngrams

        def words(c):
            return F.filter(
                F.split(F.trim(F.lower(F.coalesce(F.col(c), F.lit("")))),
                        r"\s+"),
                lambda t: t != "")

        base = df.select(
            F.col(id_col).alias("__id"),
            _word_ngrams(words(ref_col), n).alias("__rg"),
            _word_ngrams(words(cand_col), n).alias("__cg"))
        sizes = base.select("__id", F.size("__rg").alias("__nr"),
                            F.size("__cg").alias("__nc"))
        rg = (base.select("__id", F.explode("__rg").alias("__g"))
              .groupBy("__id", "__g")
              .agg(F.count(F.lit(1)).alias("__cr")))
        cg = (base.select("__id", F.explode("__cg").alias("__g"))
              .groupBy("__id", "__g")
              .agg(F.count(F.lit(1)).alias("__cc")))
        match = (rg.join(cg, ["__id", "__g"])
                 .groupBy("__id")
                 .agg(F.sum(F.least("__cr", "__cc")).alias("__m")))
        m = F.coalesce(F.col("__m"), F.lit(0)).cast("double")
        nr, nc = F.col("__nr"), F.col("__nc")
        return (sizes.join(match, "__id", "left")
                .select(
                    F.col("__id").alias(id_col),
                    nr.alias("n_ref_ngrams"),
                    nc.alias("n_cand_ngrams"),
                    F.coalesce(F.col("__m"), F.lit(0)).alias("n_match"),
                    F.when(nc > 0, m / nc).alias("precision"),
                    F.when(nr > 0, m / nr).alias("recall"),
                    F.when(nr + nc > 0,
                           F.lit(2.0) * m / (nr + nc)).alias("f1")))

    def _fixture(self, spark, seed=11, rows=120):
        import random as _random
        rng = _random.Random(seed)
        vocab = ["a", "b", "cat", "dog", "the", "zz", "b"]
        data = []
        for i in range(rows):
            ref = " ".join(rng.choices(vocab, k=rng.randint(0, 12)))
            cand = " ".join(rng.choices(vocab, k=rng.randint(0, 12)))
            if i % 17 == 0:
                ref = None
            if i % 23 == 0:
                cand = ""
            data.append((i, ref, cand))
        return spark.createDataFrame(data,
                                     "id long, ref string, cand string")

    def test_matches_old_shape_bit_identical(self, spark):
        from spark_expectations_spark.operators import text as T
        df = self._fixture(spark)
        for n in (1, 2, 3):
            new = T.ngram_overlap(df, "id", "ref", "cand", n=n)
            old = self._old_ngram_overlap(df, "id", "ref", "cand", n=n)
            assert new.schema == old.schema, n
            new_rows = sorted(map(tuple, new.collect()))
            old_rows = sorted(map(tuple, old.collect()))
            assert new_rows == old_rows, n
            assert any(r[3] > 0 for r in new_rows)   # matches happen
            assert any(r[1] == 0 for r in new_rows)  # empty sides happen

    def test_no_join_feeds_the_match_count(self, spark):
        """The match aggregate must come from conditional sums over ONE
        gram stream, not an (id, gram) self-join."""
        from spark_expectations_spark.operators import text as T
        df = self._fixture(spark, seed=5, rows=10)
        plan = T.ngram_overlap(df, "id", "ref", "cand")._jdf \
            .queryExecution().optimizedPlan().toString()
        assert plan.lower().count("join") <= 1  # only the sizes left-join


class TestPagerank:
    def _np_pagerank(self, edges, n_iter=3, d=0.85):
        """Independent dense power-iteration reference."""
        nodes = sorted({u for e in edges for u in e})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        out = {v: 0 for v in nodes}
        for s, _ in edges:
            out[s] += 1
        r = {v: 1.0 / n for v in nodes}
        for _ in range(n_iter):
            dang = sum(r[v] for v in nodes if out[v] == 0)
            acc = {v: 0.0 for v in nodes}
            for s, t in edges:
                acc[t] += r[s] / out[s]
            r = {v: (1 - d) / n + d * (acc[v] + dang / n)
                 for v in nodes}
        del idx
        return r

    def test_matches_reference_with_dangling_node(self, spark):
        from spark_expectations_spark.operators import graph
        edges = [(1, 2), (1, 3), (2, 3), (4, 1)]   # 3 is dangling
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["rank"]
               for r in graph.pagerank(df, iterations=3).collect()}
        want = self._np_pagerank(edges)
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9), v
        # ranks stay a distribution (the dangling correction's job)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)

    def test_hub_outranks_leaf_and_parallel_edges_count(self, spark):
        from spark_expectations_spark.operators import graph
        # everyone points at 9; 9 points back at 1 only
        edges = [(1, 9), (2, 9), (3, 9), (9, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["rank"]
               for r in graph.pagerank(df, iterations=5).collect()}
        assert got[9] > got[1] > got[2] == got[3]
        # a duplicated edge doubles its weight share
        dup = spark.createDataFrame(
            [(1, 2), (1, 2), (1, 3)], "src long, dst long")
        g2 = {r["node"]: r["rank"]
              for r in graph.pagerank(dup, iterations=1).collect()}
        assert g2[2] > g2[3]

    def test_iterations_zero_is_uniform_and_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import graph
        df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        got = {r["node"]: r["rank"]
               for r in graph.pagerank(df, iterations=0).collect()}
        assert got[1] == got[2] == pytest.approx(0.5)
        with _pytest.raises(ValueError, match="damping"):
            graph.pagerank(df, damping=1.0)
        with _pytest.raises(ValueError, match="iterations"):
            graph.pagerank(df, iterations=-1)
        empty = spark.createDataFrame([], "src long, dst long")
        with _pytest.raises(ValueError, match="empty"):
            graph.pagerank(empty)


class TestMmrTopk:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows,
                                     "vec_id long, embedding array<double>")

    def test_diversity_beats_redundancy(self, spark):
        """q=[1,0]; 10 and 12 equally relevant but opposite off-axis,
        11 a near-duplicate of 10. Plain top-2 would take {10, 11};
        MMR takes 10 (tie -> low id), then 12 (11's similarity to the
        selected 10 is ~1, crushing its marginal score)."""
        from spark_expectations_spark.operators import similarity as sim
        df = self._df(spark, [(1, [1.0, 0.0]), (10, [0.9, 0.44]),
                              (11, [0.9, 0.45]), (12, [0.9, -0.44])])
        q = df.filter("vec_id = 1")
        got = {r["position"]: r for r in
               sim.mmr_topk(df, q, k=3, pool=3, lam=0.5).collect()}
        assert got[1]["neighbor_id"] == 10
        assert got[2]["neighbor_id"] == 12
        assert got[3]["neighbor_id"] == 11
        # position 1 carries the unpenalized lam*rel score
        assert got[1]["mmr_score"] == pytest.approx(
            0.5 * got[1]["relevance"])
        # the near-dup's winning score is its rel minus ~its rel
        assert got[3]["mmr_score"] < 0

    def test_lam_one_is_plain_relevance_ranking(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        df = self._df(spark, [(1, [1.0, 0.0]), (10, [0.9, 0.44]),
                              (11, [0.9, 0.45]), (12, [0.9, -0.44])])
        q = df.filter("vec_id = 1")
        mmr = {r["position"]: r["neighbor_id"] for r in
               sim.mmr_topk(df, q, k=3, pool=3, lam=1.0).collect()}
        top = {r["rank"]: r["neighbor_id"] for r in
               sim.cosine_topk(df, q, k=3).collect()}
        assert mmr == top

    def test_greedy_matches_python_reference(self, spark):
        """Differential vs a dense greedy MMR on a random-ish cloud."""
        import random
        from spark_expectations_spark.operators import similarity as sim
        rng = random.Random(13)
        rows = [(i, [rng.gauss(0, 1) for _ in range(8)])
                for i in range(40)]
        df = self._df(spark, rows)
        q = df.filter("vec_id < 2")
        got = {(r["query_id"], r["position"]): r["neighbor_id"]
               for r in sim.mmr_topk(df, q, k=4, pool=10,
                                     lam=0.5).collect()}

        import math
        vecs = {i: v for i, v in rows}

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        for qid in (0, 1):
            rel = sorted(((cos(vecs[qid], v), -i) for i, v in vecs.items()
                          if i != qid), reverse=True)
            pool = [(-ni, r) for r, ni in rel[:10]]
            sel = []
            for pos in range(1, 5):
                best = None
                for cid, r in pool:
                    if cid in sel:
                        continue
                    pen = max((cos(vecs[cid], vecs[s]) for s in sel),
                              default=0.0)
                    score = 0.5 * r - (0.5 * pen if sel else 0.0)
                    key = (score, -cid)
                    if best is None or key > best[0]:
                        best = (key, cid)
                sel.append(best[1])
                assert got[(qid, pos)] == best[1], (qid, pos)

    def test_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import similarity as sim
        df = self._df(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
        with _pytest.raises(ValueError, match="lam"):
            sim.mmr_topk(df, df, lam=1.5)
        with _pytest.raises(ValueError, match="k <= pool"):
            sim.mmr_topk(df, df, k=5, pool=3)


class TestPagerankPersonalized:
    def _np_ppr(self, edges, seeds, n_iter=3, d=0.85):
        """Dense random-walk-with-restart reference (r0 = p,
        dangling mass restarts on p)."""
        nodes = sorted({u for e in edges for u in e})
        present = [s for s in seeds if s in nodes]
        p = {v: (1.0 / len(present) if v in present else 0.0)
             for v in nodes}
        out = {v: 0 for v in nodes}
        for s, _ in edges:
            out[s] += 1
        r = dict(p)
        for _ in range(n_iter):
            dang = sum(r[v] for v in nodes if out[v] == 0)
            acc = {v: 0.0 for v in nodes}
            for s, t in edges:
                acc[t] += r[s] / out[s]
            r = {v: (1 - d) * p[v] + d * (acc[v] + dang * p[v])
                 for v in nodes}
        return r

    def test_matches_reference_and_concentrates_near_seeds(self, spark):
        from spark_expectations_spark.operators import graph
        # two loosely-connected triangles; seed in the left one
        edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3),
                 (3, 4), (4, 3),
                 (4, 5), (5, 4), (5, 6), (6, 5), (6, 4), (4, 6)]
        df = spark.createDataFrame(edges, "src long, dst long")
        seeds = spark.createDataFrame([(1,), (99,)], "node long")
        got = {r["node"]: r["rank"] for r in graph.pagerank(
            df, iterations=3, seeds=seeds).collect()}
        want = self._np_ppr(edges, [1, 99])  # 99 absent -> ignored
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9), v
        # restart mass keeps the seed's neighborhood ranked above the
        # far triangle, and Σ rank = 1 still holds
        assert got[1] > got[5] and got[2] > got[5]
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)

    def test_weighted_seeds_and_dangling_restart(self, spark):
        from spark_expectations_spark.operators import graph
        edges = [(1, 2), (2, 3)]   # 3 dangling
        df = spark.createDataFrame(edges, "src long, dst long")
        seeds = spark.createDataFrame([(1, 3.0), (2, 1.0)],
                                      "node long, w double")
        got = {r["node"]: r["rank"] for r in graph.pagerank(
            df, iterations=2, seeds=seeds, seed_weight="w").collect()}
        # dense replay with p = (0.75, 0.25, 0)
        p = {1: 0.75, 2: 0.25, 3: 0.0}
        r = dict(p)
        for _ in range(2):
            dang = r[3]
            acc = {1: 0.0, 2: r[1], 3: r[2]}
            r = {v: 0.15 * p[v] + 0.85 * (acc[v] + dang * p[v])
                 for v in (1, 2, 3)}
        for v in r:
            assert got[v] == pytest.approx(r[v], abs=1e-9), v

    def test_duplicate_seed_rows_sum_weights(self, spark):
        """A node listed twice in the seeds frame must SUM its restart
        weight (documented), never duplicate its rank rows — an
        unaggregated seed join doubled the node's outgoing mass every
        iteration and emitted duplicate output rows."""
        from spark_expectations_spark.operators import graph
        edges = [(1, 2), (2, 1), (2, 3), (3, 2)]
        df = spark.createDataFrame(edges, "src long, dst long")
        dup = spark.createDataFrame([(1,), (1,)], "node long")
        once_w = spark.createDataFrame([(1, 2.0)], "node long, w double")
        a = {r["node"]: r["rank"] for r in graph.pagerank(
            df, iterations=3, seeds=dup).collect()}
        b = {r["node"]: r["rank"] for r in graph.pagerank(
            df, iterations=3, seeds=once_w, seed_weight="w").collect()}
        assert len(a) == 3 and a == b  # dup == single seed at 2x weight
        assert sum(a.values()) == pytest.approx(1.0, abs=1e-6)

    def test_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import graph
        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        absent = spark.createDataFrame([(42,)], "node long")
        with _pytest.raises(ValueError, match="no seed"):
            graph.pagerank(df, seeds=absent)
        bad = spark.createDataFrame([(1, 0.0)], "node long, w double")
        with _pytest.raises(ValueError, match="seed weight"):
            graph.pagerank(df, seeds=bad, seed_weight="w")


class TestPagerankWeighted:
    def test_weight_equals_parallel_edge_multiplicity(self, spark):
        """pagerank(edges-with-duplicates) must equal
        pagerank(distinct edges, weight=multiplicity) — the weighted
        path's defining differential."""
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import graph
        dup = spark.createDataFrame(
            [(1, 2), (1, 2), (1, 3), (2, 3), (3, 1), (3, 1), (3, 1)],
            "src long, dst long")
        wtd = dup.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
        a = {r["node"]: r["rank"]
             for r in graph.pagerank(dup, iterations=4).collect()}
        b = {r["node"]: r["rank"]
             for r in graph.pagerank(wtd, weight="w",
                                     iterations=4).collect()}
        assert a == b

    def test_heavier_edge_pulls_more_rank(self, spark):
        from spark_expectations_spark.operators import graph
        df = spark.createDataFrame(
            [(1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
            "src long, dst long, w double")
        got = {r["node"]: r["rank"]
               for r in graph.pagerank(df, weight="w",
                                       iterations=3).collect()}
        assert got[2] > got[3]
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)

    def test_bad_weights_raise(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import graph
        for w in (0.0, -1.0, None):
            df = spark.createDataFrame(
                [(1, 2, 1.0), (2, 1, w)], "src long, dst long, w double")
            with _pytest.raises(ValueError, match="weight"):
                graph.pagerank(df, weight="w")


class TestGraphConnectedComponents:
    def test_chain_resolves_to_its_minimum(self, spark):
        """A 61-node chain (diameter 60) resolves to one component
        labeled by its minimum; random graphs are checked against
        union-find in tests/test_properties.py."""
        from spark_expectations_spark.operators import graph
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(60)], "src long, dst long")
        got = graph.connected_components(chain).collect()
        assert len(got) == 61
        assert all(r["component"] == 0 for r in got)

    def test_releases_superseded_checkpoints(self, spark):
        """A multi-round call leaves persisted only the checkpoint its
        result reads; a call that hits max_rounds leaves none."""
        import pytest as _pytest
        from spark_expectations_spark import connect
        from spark_expectations_spark.operators import graph
        jsc = spark.sparkContext._jsc

        def persisted():
            return set(jsc.getPersistentRDDs().keySet().toArray())

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "src long, dst long")
        before = persisted()
        cc = graph.connected_components(chain)
        kept = set(connect.local_checkpoint_rdds(cc))
        assert len(kept) == 1
        assert persisted() - before == kept
        assert cc.count() == 41
        connect.release_checkpoints(cc)
        with _pytest.raises(RuntimeError, match="no convergence"):
            graph.connected_components(chain, max_rounds=1)
        assert persisted() - before == set()

    def test_string_ids_duplicates_and_bidirectional_edges(self, spark):
        from spark_expectations_spark.operators import graph
        df = spark.createDataFrame(
            [("b", "a"), ("a", "b"), ("b", "b"), ("c", "d"),
             ("d", "c"), ("c", "d")], "src string, dst string")
        got = {r["node"]: r["component"]
               for r in graph.connected_components(df).collect()}
        assert got == {"a": "a", "b": "a", "c": "c", "d": "c"}

    def test_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import graph
        empty = spark.createDataFrame([], "src long, dst long")
        got = graph.connected_components(empty)
        assert got.columns == ["node", "component"]
        assert got.collect() == []
        loops = spark.createDataFrame([(1, 1)], "src long, dst long")
        assert graph.connected_components(loops).collect() == []
        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with _pytest.raises(ValueError, match="max_rounds"):
            graph.connected_components(df, max_rounds=0)


class TestSymmetrizeEdges:
    def test_matches_union_form(self, spark):
        rng = random.Random(3)
        rows = [(rng.randint(0, 50), rng.randint(51, 99), rng.randint(1, 9))
                for _ in range(200)]
        pairs = spark.createDataFrame(rows, "pa long, pb long, w long")
        union_form = (
            pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"),
                         "w")
            .unionByName(pairs.select(F.col("pb").alias("src"),
                                      F.col("pa").alias("dst"), "w")))
        old = sorted(tuple(r) for r in union_form.collect())
        new = sorted(tuple(r) for r in
                     graph.symmetrize_edges(pairs, "pa", "pb",
                                            carry=("w",)).collect())
        assert new == old and len(new) == 400

    def test_no_carry_columns(self, spark):
        pairs = spark.createDataFrame([(1, 2)], "pa long, pb long")
        got = sorted(tuple(r) for r in
                     graph.symmetrize_edges(pairs, "pa", "pb").collect())
        assert got == [(1, 2), (2, 1)]


class TestHits:
    def _np_hits(self, edges, n_iter=2):
        nodes = sorted({u for e in edges for u in e})
        h = {v: 1.0 / len(nodes) for v in nodes}
        a = {v: 0.0 for v in nodes}
        for _ in range(n_iter):
            a = {v: sum(h[s] for s, t in edges if t == v) for v in nodes}
            at = sum(a.values()) or 1.0
            a = {v: x / at for v, x in a.items()}
            h = {v: sum(a[t] for s, t in edges if s == v) for v in nodes}
            ht = sum(h.values()) or 1.0
            h = {v: x / ht for v, x in h.items()}
        return h, a

    def test_matches_dense_reference_on_bipartite(self, spark):
        from spark_expectations_spark.operators import graph
        # customers 1-3 -> products 10-12; 10 is bought by everyone
        edges = [(1, 10), (1, 11), (2, 10), (3, 10), (3, 12)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: (r["hub"], r["authority"])
               for r in graph.hits(df, iterations=2).collect()}
        h, a = self._np_hits(edges)
        for v in h:
            assert got[v][0] == pytest.approx(h[v], abs=1e-9), v
            assert got[v][1] == pytest.approx(a[v], abs=1e-9), v
        # the universally-bought product is the top authority; the
        # two-product customers are the top hubs; sides stay pure
        assert got[10][1] == max(x[1] for x in got.values())
        assert got[1][0] == got[3][0] == max(x[0] for x in got.values())
        for c in (1, 2, 3):
            assert got[c][1] == 0.0      # customers are never authorities
        for p in (10, 11, 12):
            assert got[p][0] == 0.0      # products are never hubs

    def test_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import graph
        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with _pytest.raises(ValueError, match="iterations"):
            graph.hits(df, iterations=0)
        empty = spark.createDataFrame([], "src long, dst long")
        with _pytest.raises(ValueError, match="empty"):
            graph.hits(empty)


class TestQuantileNormalizeScores:
    def test_exact_ecdf_with_ties_and_nulls(self, spark):
        from spark_expectations_spark.operators import text as T
        rows = [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 20.0),
                (4, "a", 40.0), (5, "b", 5.0), (6, "b", None)]
        df = spark.createDataFrame(rows, "id long, src string, s double")
        got = {r["id"]: r["qscore"] for r in
               T.quantile_normalize_scores(df, "src", "s").collect()}
        assert got[1] == pytest.approx(0.25)
        # ties share the upper ECDF value (3 of 4 <= 20)
        assert got[2] == got[3] == pytest.approx(0.75)
        assert got[4] == pytest.approx(1.0)
        assert got[5] == pytest.approx(1.0)   # singleton source
        assert got[6] is None                 # NULL passes through

    def test_exact_ecdf_excludes_nulls_from_counts(self, spark):
        """Regression (r12): a bare cume_dist window orders NULLs
        first, so [NULL, 1.0, 2.0] would give 1.0 the quantile 2/3
        instead of the documented 1/2 (NULLs excluded from numerator
        AND denominator)."""
        from spark_expectations_spark.operators import text as T
        rows = [(1, "a", None), (2, "a", 1.0), (3, "a", 2.0)]
        df = spark.createDataFrame(rows, "id long, src string, s double")
        got = {r["id"]: r["qscore"] for r in
               T.quantile_normalize_scores(df, "src", "s").collect()}
        assert got[1] is None
        assert got[2] == pytest.approx(0.5)
        assert got[3] == pytest.approx(1.0)

    def test_cross_source_comparability(self, spark):
        """Two sources with very different raw scales map their
        respective top elements to the same quantile."""
        from spark_expectations_spark.operators import text as T
        rows = ([(i, "lo", float(i)) for i in range(1, 11)]
                + [(100 + i, "hi", 1000.0 * i) for i in range(1, 11)])
        df = spark.createDataFrame(rows, "id long, src string, s double")
        got = {r["id"]: r["qscore"] for r in
               T.quantile_normalize_scores(df, "src", "s").collect()}
        assert got[10] == got[110] == pytest.approx(1.0)
        assert got[5] == got[105] == pytest.approx(0.5)

    def test_bucketed_approximation_tracks_exact(self, spark):
        from spark_expectations_spark.operators import text as T
        rows = [(i, "a", float((i * 37) % 101)) for i in range(200)]
        df = spark.createDataFrame(rows, "id long, src string, s double")
        exact = {r["id"]: r["qscore"] for r in
                 T.quantile_normalize_scores(df, "src", "s").collect()}
        approx = {r["id"]: r["qscore"] for r in
                  T.quantile_normalize_scores(df, "src", "s",
                                              buckets=50).collect()}
        for i in exact:
            assert abs(approx[i] - exact[i]) <= 1.0 / 50 + 1e-9, i
        # constant-score source: everything lands in bucket 0, q = 1
        const = spark.createDataFrame([(1, "c", 7.0), (2, "c", 7.0)],
                                      "id long, src string, s double")
        g = {r["id"]: r["qscore"] for r in
             T.quantile_normalize_scores(const, "src", "s",
                                         buckets=4).collect()}
        assert g[1] == g[2] == pytest.approx(1.0)

    def test_buckets_validation_and_null_in_bucketed(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame([(1, "a", 1.0), (2, "a", None)],
                                   "id long, src string, s double")
        with _pytest.raises(ValueError, match="buckets"):
            T.quantile_normalize_scores(df, "src", "s", buckets=0)
        g = {r["id"]: r["qscore"] for r in
             T.quantile_normalize_scores(df, "src", "s",
                                         buckets=4).collect()}
        assert g[2] is None and g[1] == pytest.approx(1.0)


class TestReciprocalRankFusion:
    def test_hand_computed_fusion(self, spark):
        """Two rankers over one query: item 'b' is #2 in both and
        beats 'a' (#1 in one, absent in the other):
        b: 1/62+1/62 = 0.032258... > a: 1/61 = 0.016393..."""
        from spark_expectations_spark.operators import similarity as sim
        rows = [(1, "a", 1), (1, "b", 2),      # ranker 1
                (1, "c", 1), (1, "b", 2)]      # ranker 2
        df = spark.createDataFrame(rows,
                                   "query_id int, item_id string, rank int")
        got = {r["item_id"]: r for r in
               sim.reciprocal_rank_fusion(df).collect()}
        assert got["b"]["rrf_score"] == pytest.approx(2 / 62)
        assert got["a"]["rrf_score"] == pytest.approx(1 / 61)
        assert got["b"]["fused_rank"] == 1
        # a and c tie on score -> item asc breaks it
        assert got["a"]["fused_rank"] == 2
        assert got["c"]["fused_rank"] == 3

    def test_top_k_and_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import similarity as sim
        df = spark.createDataFrame(
            [(1, "a", 1), (1, "b", 2), (1, "c", 3)],
            "query_id int, item_id string, rank int")
        out = sim.reciprocal_rank_fusion(df, top_k=2)
        assert out.count() == 2
        with _pytest.raises(ValueError, match="k must"):
            sim.reciprocal_rank_fusion(df, k=0)
        bad = spark.createDataFrame([(1, "a", 0)],
                                    "query_id int, item_id string, rank int")
        with _pytest.raises(ValueError, match="sub-1 rank"):
            sim.reciprocal_rank_fusion(bad)


class TestSurvivalCurve:
    """Kaplan-Meier product-limit estimator: textbook worked example,
    censoring between deaths, extinction at the last time, per-group
    independence."""

    def _subjects(self, spark):
        # classic 6-subject example: deaths at 1, 3 (x2), 5; censored
        # at 2 and 4
        return spark.createDataFrame(
            [(1, 1), (2, 0), (3, 1), (3, 1), (4, 0), (5, 1)],
            "duration int, event int")

    def test_textbook_curve(self, spark):
        from spark_expectations_spark.operators import drift
        rows = {r["t"]: r for r in drift.survival_curve(
            self._subjects(spark), "duration", "event").collect()}
        assert rows[1]["n_risk"] == 6 and rows[1]["n_event"] == 1
        assert rows[1]["survival"] == pytest.approx(5 / 6)
        # censoring at t=2 leaves the curve flat but shrinks the risk set
        assert rows[2]["n_risk"] == 5 and rows[2]["n_event"] == 0
        assert rows[2]["survival"] == pytest.approx(5 / 6)
        assert rows[3]["n_risk"] == 4 and rows[3]["n_event"] == 2
        assert rows[3]["survival"] == pytest.approx(5 / 6 * 2 / 4)
        assert rows[4]["survival"] == pytest.approx(5 / 12)
        # the lone survivor dies at t=5: extinction, exactly 0.0
        assert rows[5]["n_risk"] == 1 and rows[5]["survival"] == 0.0

    def test_groups_are_independent(self, spark):
        from spark_expectations_spark.operators import drift
        a = [(g, t, e) for g in ("x", "y")
             for t, e in [(1, 1), (2, 0), (3, 1), (3, 1), (4, 0), (5, 1)]]
        df = spark.createDataFrame(a, "g string, duration int, event int")
        out = drift.survival_curve(df, "duration", "event",
                                   group_cols=("g",)).collect()
        by_g = {}
        for r in out:
            by_g.setdefault(r["g"], {})[r["t"]] = r["survival"]
        assert by_g["x"] == by_g["y"]
        assert by_g["x"][3] == pytest.approx(5 / 12)

    def test_all_censored_stays_at_one(self, spark):
        from spark_expectations_spark.operators import drift
        df = spark.createDataFrame([(2, 0), (4, 0)],
                                   "duration int, event int")
        rows = {r["t"]: r["survival"] for r in drift.survival_curve(
            df, "duration", "event").collect()}
        assert rows == {2: 1.0, 4: 1.0}

    def test_reserved_name_guard(self, spark):
        from spark_expectations_spark.operators import drift
        df = spark.createDataFrame([(1, 1, "a")],
                                   "duration int, event int, t string")
        with pytest.raises(ValueError, match="group_cols"):
            drift.survival_curve(df, "duration", "event",
                                 group_cols=("t",))


class TestStratifiedClassificationReport:
    """Per-stratum confusion counts + Wilson bounds: hand-computed
    values, NULL-where-undefined metrics, the calibration drop rule."""

    def test_hand_computed_counts_and_wilson(self, spark):
        import math

        from spark_expectations_spark.operators import text
        # stratum "a": scores/labels -> pred at 0.5:
        #   (0.9, 1) tp, (0.8, 0) fp, (0.2, 1) fn, (0.1, 0) tn
        rows = [("a", 0.9, 1), ("a", 0.8, 0), ("a", 0.2, 1), ("a", 0.1, 0)]
        df = spark.createDataFrame(rows, "s string, score double, label int")
        r = text.stratified_classification_report(
            df, "score", "label", ("s",)).first()
        assert (r["n"], r["tp"], r["fp"], r["fn"], r["tn"]) == (4, 1, 1, 1, 1)
        assert r["precision"] == pytest.approx(0.5)
        assert r["recall"] == pytest.approx(0.5)
        assert r["f1"] == pytest.approx(0.5)
        z = 1.959963985
        n, p = 2.0, 0.5
        lo = ((p + z * z / (2 * n)
               - z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
              / (1 + z * z / n))
        assert r["precision_lo"] == pytest.approx(lo)
        assert r["recall_lo"] == pytest.approx(lo)
        assert 0.0 <= r["precision_lo"] < 0.5 < r["precision_hi"] <= 1.0

    def test_undefined_metrics_are_null_and_drop_rule(self, spark):
        from spark_expectations_spark.operators import text
        rows = [("neg", 0.1, 0), ("neg", 0.2, 0),      # no pred-pos, no actual-pos
                ("bad", 1.5, 1), ("bad", None, 0),     # dropped entirely
                ("bad", 0.9, 1)]
        df = spark.createDataFrame(rows, "s string, score double, label int")
        out = {r["s"]: r for r in text.stratified_classification_report(
            df, "score", "label", ("s",)).collect()}
        assert out["neg"]["precision"] is None       # tp+fp == 0
        assert out["neg"]["recall"] is None          # tp+fn == 0
        assert out["neg"]["f1"] is None
        assert out["bad"]["n"] == 1                  # drop rule applied
        with pytest.raises(ValueError, match="strata_cols"):
            text.stratified_classification_report(
                df, "score", "label", ())
        with pytest.raises(ValueError, match="collide"):
            text.stratified_classification_report(
                df.withColumnRenamed("s", "tp"), "score", "label", ("tp",))


class TestRocAuc:
    def test_hand_computed_with_ties(self, spark):
        """scores (label): 0.1(-), 0.4(+), 0.4(-), 0.8(+).
        Average ranks: 1, 2.5, 2.5, 4. R_pos = 2.5 + 4 = 6.5;
        AUC = (6.5 - 2*3/2) / (2*2) = 3.5/4 = 0.875."""
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [(0.1, 0), (0.4, 1), (0.4, 0), (0.8, 1)],
            "s double, y int")
        r = T.roc_auc(df, "s", "y").first()
        assert (r["n"], r["n_pos"], r["n_neg"]) == (4, 2, 2)
        assert r["auc"] == pytest.approx(0.875)

    def test_perfect_random_and_inverted(self, spark):
        from spark_expectations_spark.operators import text as T
        perfect = spark.createDataFrame(
            [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "s double, y int")
        assert T.roc_auc(perfect, "s", "y").first()["auc"] == 1.0
        inverted = spark.createDataFrame(
            [(0.1, 1), (0.2, 1), (0.8, 0), (0.9, 0)], "s double, y int")
        assert T.roc_auc(inverted, "s", "y").first()["auc"] == 0.0
        const = spark.createDataFrame(
            [(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)], "s double, y int")
        # all tied: average ranks make AUC exactly 0.5
        assert T.roc_auc(const, "s", "y").first()["auc"] == 0.5

    def test_degenerate_null_and_groups(self, spark):
        from spark_expectations_spark.operators import text as T
        onecls = spark.createDataFrame([(0.5, 1), (0.9, 1)],
                                       "s double, y int")
        assert T.roc_auc(onecls, "s", "y").first()["auc"] is None
        grouped = spark.createDataFrame(
            [("a", 0.9, 1), ("a", 0.1, 0),          # perfect in a
             ("b", 0.1, 1), ("b", 0.9, 0),          # inverted in b
             ("b", None, 1), ("b", 0.5, None)],     # dropped rows
            "g string, s double, y int")
        got = {r["g"]: r for r in
               T.roc_auc(grouped, "s", "y", group_col="g").collect()}
        assert got["a"]["auc"] == 1.0
        assert got["b"]["auc"] == 0.0
        assert got["b"]["n"] == 2                   # NULLs dropped

    def test_matches_sklearn_style_reference(self, spark):
        """Differential vs a pure-python pairwise AUC on a messy
        tie-heavy sample."""
        import random
        from spark_expectations_spark.operators import text as T
        rng = random.Random(5)
        rows = [(round(rng.random() * 10) / 10.0, rng.randint(0, 1))
                for _ in range(300)]
        df = spark.createDataFrame(rows, "s double, y int")
        got = T.roc_auc(df, "s", "y").first()["auc"]
        pos = [s for s, y in rows if y == 1]
        neg = [s for s, y in rows if y == 0]
        wins = sum(1.0 if p > n else 0.5 if p == n else 0.0
                   for p in pos for n in neg)
        assert got == pytest.approx(wins / (len(pos) * len(neg)))


class TestIsotonicCalibrate:
    def test_grouped_fits_are_independent(self, spark):
        """group_col fits one PAV map per group: a perfectly
        increasing group gets the 0/1 step, an INVERTED group pools to
        its constant mean, and a group with no labeled rows maps to
        NULL — a single global fit would blur all three."""
        from spark_expectations_spark.operators import text as T
        rows = ([("a", float(s), s >= 3) for s in range(1, 6)
                 for _ in range(10)]
                + [("b", float(s), s <= 2) for s in range(1, 6)
                   for _ in range(10)]
                + [("c", 1.0, None)])
        df = spark.createDataFrame(rows, "g string, s double, y boolean")
        out = T.isotonic_calibrate(df, "s", "y", group_col="g")
        per = {}
        for r in out.select("g", "s", "calibrated").distinct().collect():
            per.setdefault(r["g"], {})[r["s"]] = r["calibrated"]
        assert per["a"][1.0] == 0.0 and per["a"][5.0] == 1.0
        assert all(v == pytest.approx(0.4) for v in per["b"].values())
        assert per["c"][1.0] is None
        # per-group mean preservation
        cal = out.filter("y is not null").groupBy("g").agg(
            F.avg(F.col("calibrated")).alias("m"),
            F.avg(F.col("y").cast("double")).alias("t")).collect()
        for r in cal:
            assert r["m"] == pytest.approx(r["t"], abs=1e-12), r["g"]

    def test_pav_hand_computed_pooling(self, spark):
        """Scores .1/.2/.3 with pos-rates 0.0/1.0/0.5 and equal
        weights: the .2/.3 violation pools to 0.75; output is
        non-decreasing [0, .75, .75]."""
        from spark_expectations_spark.operators import text as T
        rows = ([(0.1, 0)] * 2
                + [(0.2, 1)] * 2
                + [(0.3, 1), (0.3, 0)])
        df = spark.createDataFrame(rows, "s double, y int")
        got = {r["s"]: r["calibrated"] for r in
               T.isotonic_calibrate(df, "s", "y").collect()}
        assert got[0.1] == pytest.approx(0.0)
        assert got[0.2] == got[0.3] == pytest.approx(0.75)

    def test_monotone_mean_preserving_on_noisy_sample(self, spark):
        import random
        from spark_expectations_spark.operators import text as T
        rng = random.Random(3)
        rows = [(round(rng.random(), 2),) for _ in range(400)]
        rows = [(s, 1 if rng.random() < s else 0) for (s,) in rows]
        df = spark.createDataFrame(rows, "s double, y int")
        out = T.isotonic_calibrate(df, "s", "y").collect()
        by_s = sorted({(r["s"], r["calibrated"]) for r in out})
        vals = [v for _, v in by_s]
        assert all(a <= b + 1e-12 for a, b in zip(vals, vals[1:]))
        # PAV preserves the overall positive rate exactly
        mean_cal = sum(r["calibrated"] for r in out) / len(out)
        mean_y = sum(y for _, y in rows) / len(rows)
        assert mean_cal == pytest.approx(mean_y, abs=1e-9)

    def test_null_semantics_and_guards(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame(
            [(0.2, 0), (0.8, 1), (0.2, None), (None, 1)],
            "s double, y int")
        got = T.isotonic_calibrate(df, "s", "y").collect()
        by = {}
        for r in got:
            by.setdefault((r["s"], r["y"]), r["calibrated"])
        assert by[(None, 1)] is None            # NULL score -> NULL out
        assert by[(0.2, None)] == pytest.approx(0.0)  # lookup still works
        empty = spark.createDataFrame([(None, 1)], "s double, y int")
        with _pytest.raises(ValueError, match="no labeled"):
            T.isotonic_calibrate(empty, "s", "y")
        big = spark.createDataFrame([(float(i), i % 2) for i in range(50)],
                                    "s double, y int")
        with _pytest.raises(ValueError, match="max_points"):
            T.isotonic_calibrate(big, "s", "y", max_points=10)


class TestTriangleCounts:
    def test_hand_computed_triangles(self, spark):
        """K4 minus one edge on {1,2,3,4}: triangles {1,2,3} and
        {1,2,4} (edge 3-4 missing). Degrees: 1:3, 2:3, 3:2, 4:2."""
        from spark_expectations_spark.operators import graph
        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r for r in graph.triangle_counts(df).collect()}
        assert got[1]["triangles"] == 2 and got[2]["triangles"] == 2
        assert got[3]["triangles"] == 1 and got[4]["triangles"] == 1
        assert got[1]["degree"] == 3 and got[3]["degree"] == 2
        # clustering: node 1 has 2 of 3 possible neighbor pairs closed
        assert got[1]["clustering"] == pytest.approx(2 / 3)
        assert got[3]["clustering"] == pytest.approx(1.0)

    def test_direction_duplicates_and_self_loops_ignored(self, spark):
        from spark_expectations_spark.operators import graph
        edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["triangles"]
               for r in graph.triangle_counts(df).collect()}
        assert got == {1: 1, 2: 1, 3: 1}

    def test_matches_brute_force_on_random_graph(self, spark):
        import itertools
        import random
        from spark_expectations_spark.operators import graph
        rng = random.Random(7)
        nodes = list(range(30))
        edges = [(a, b) for a, b in itertools.combinations(nodes, 2)
                 if rng.random() < 0.2]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["triangles"]
               for r in graph.triangle_counts(df).collect()}
        es = {frozenset(e) for e in edges}
        want = {v: 0 for v in {u for e in edges for u in e}}
        for a, b, c in itertools.combinations(nodes, 3):
            if ({frozenset((a, b)), frozenset((b, c)),
                 frozenset((a, c))} <= es):
                want[a] += 1
                want[b] += 1
                want[c] += 1
        assert got == want

    def test_triangle_free_graph(self, spark):
        from spark_expectations_spark.operators import graph
        df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                   "src long, dst long")
        got = {r["node"]: (r["triangles"], r["clustering"])
               for r in graph.triangle_counts(df).collect()}
        assert all(t == 0 for t, _ in got.values())
        assert got[1][1] is None          # degree 1 -> undefined
        assert got[2][1] == 0.0


class TestBootstrapCi:
    def _py_weights(self, key, b, salt="boot"):
        import hashlib
        g, j = divmod(b, 8)
        hexd = hashlib.md5(f"{salt}{g}|{key}".encode()).hexdigest()
        u = int(hexd[4 * j:4 * j + 4], 16) / 65536.0
        from spark_expectations_spark.operators.profiling import \
            _POISSON1_CDF
        for k, t in enumerate(_POISSON1_CDF):
            if u < t:
                return k
        return len(_POISSON1_CDF)

    def test_matches_hashlib_reference_exactly(self, spark):
        """The replica means must equal a pure-python recomputation of
        the same md5-derived Poisson weights — draw-for-draw."""
        from spark_expectations_spark.operators import profiling
        rows = [(i, float((i * 7) % 13)) for i in range(1, 201)]
        df = spark.createDataFrame(rows, "id long, v double")
        got = profiling.bootstrap_ci(df, "id", "v", replicas=8,
                                     alpha=0.25, digits=9).first()
        means = []
        for b in range(8):
            ws = [(self._py_weights(i, b), v) for i, v in rows]
            means.append(sum(w * v for w, v in ws)
                         / sum(w for w, _ in ws))
        means.sort()
        lo_idx = int(0.125 * 8)
        assert got["n"] == 200
        assert got["mean"] == pytest.approx(
            sum(v for _, v in rows) / 200, abs=1e-9)
        assert got["ci_lo"] == pytest.approx(means[lo_idx], abs=1e-9)
        assert got["ci_hi"] == pytest.approx(means[8 - 1 - lo_idx],
                                             abs=1e-9)

    def test_ci_brackets_mean_and_is_deterministic(self, spark):
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame(
            [(i, float(100 + (i * 17) % 50)) for i in range(500)],
            "id long, v double")
        a = profiling.bootstrap_ci(df, "id", "v").first()
        b = profiling.bootstrap_ci(df, "id", "v").first()
        assert a == b                       # rerun byte-identical
        assert a["ci_lo"] <= a["mean"] <= a["ci_hi"]
        assert a["se"] > 0 and a["replicas"] == 40
        # the CI width should be a few standard errors, not absurd
        assert (a["ci_hi"] - a["ci_lo"]) < 10 * a["se"] + 1e-9

    def test_null_drop_and_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame([(1, 2.0), (2, None), (3, 4.0)],
                                   "id long, v double")
        r = profiling.bootstrap_ci(df, "id", "v", replicas=4).first()
        assert r["n"] == 2 and r["mean"] == pytest.approx(3.0)
        with _pytest.raises(ValueError, match="replicas"):
            profiling.bootstrap_ci(df, "id", "v", replicas=1)
        with _pytest.raises(ValueError, match="alpha"):
            profiling.bootstrap_ci(df, "id", "v", alpha=1.0)
        empty = spark.createDataFrame([(1, None)], "id long, v double")
        with _pytest.raises(ValueError, match="no non-NULL"):
            profiling.bootstrap_ci(empty, "id", "v")

    def test_duplicate_keys_rejected(self, spark):
        """Rows sharing a key get identical Poisson draws in every
        replica (the draw is a pure function of the key), so the
        default validation must reject non-unique keys; the opt-out
        keeps the old behavior for known-unique keys."""
        import pytest as _pytest
        from spark_expectations_spark.operators import profiling
        df = spark.createDataFrame(
            [(i % 40, float(i)) for i in range(80)],
            "id long, v double")
        with _pytest.raises(ValueError, match="not row-unique"):
            profiling.bootstrap_ci(df, "id", "v", replicas=4)
        r = profiling.bootstrap_ci(df, "id", "v", replicas=4,
                                   check_unique_keys=False).first()
        assert r["n"] == 80


class TestFoldPack:
    def _run(self, spark, lens, capacity):
        from spark_expectations_spark.operators import packing
        df = spark.createDataFrame(list(enumerate(lens, 1)),
                                   "id long, ln long")
        return {r["id"]: r for r in
                packing.fold_pack(df, "id", "ln",
                                  capacity=capacity).collect()}

    def test_longest_pairs_with_shortest(self, spark):
        """lens 90,70,30,10 cap 100: ranks 0..3 -> pairs (90,10) and
        (70,30), both exactly full."""
        got = self._run(spark, [90, 70, 30, 10], 100)
        assert got[1]["pack_id"] == got[4]["pack_id"] == 0
        assert got[2]["pack_id"] == got[3]["pack_id"] == 1
        assert got[1]["pack_len"] == got[2]["pack_len"] == 100
        assert all(r["pack_size"] == 2 and not r["overflow"]
                   for r in got.values())

    def test_unfit_pair_splits_and_odd_middle_singleton(self, spark):
        """lens 90,80,10 cap 100: pair (90,10) fits; middle 80 is the
        odd singleton. lens 90,80 cap 100: the only pair is 170 ->
        both singletons with disjoint pack ids."""
        got = self._run(spark, [90, 80, 10], 100)
        assert got[1]["pack_id"] == got[3]["pack_id"]
        assert got[2]["pack_size"] == 1 and got[2]["pack_len"] == 80
        g2 = self._run(spark, [90, 80], 100)
        assert g2[1]["pack_id"] != g2[2]["pack_id"]
        assert all(r["pack_size"] == 1 for r in g2.values())
        assert {r["pack_id"] for r in g2.values()} == {2, 3}  # n + r

    def test_overflow_flagged_negative(self, spark):
        got = self._run(spark, [150, 90, 10], 100)
        assert got[1]["overflow"] and got[1]["pack_id"] == -1
        assert got[2]["pack_id"] == got[3]["pack_id"] == 0
        # everything overflows: packer still returns a full assignment
        g2 = self._run(spark, [150, 200], 100)
        assert {r["pack_id"] for r in g2.values()} == {-1, -2}

    def test_null_length_raises_and_capacity_guard(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import packing
        df = spark.createDataFrame([(1, 10), (2, None)],
                                   "id long, ln long")
        with _pytest.raises(ValueError, match="NULL length"):
            packing.fold_pack(df, "id", "ln", capacity=100)
        with _pytest.raises(ValueError, match="capacity"):
            packing.fold_pack(df, "id", "ln", capacity=0)


class TestNfdPack:
    def _run(self, spark, lens, capacity, n_streams=1):
        from spark_expectations_spark.operators import packing
        df = spark.createDataFrame(list(enumerate(lens, 1)),
                                   "id long, ln long")
        return {r["id"]: r for r in
                packing.nfd_pack(df, "id", "ln", capacity=capacity,
                                 n_streams=n_streams).collect()}

    def test_fills_packs_with_many_short_docs(self, spark):
        """lens 60,30,30,20,20,20 cap 100, one stream: NFD scans
        descending — 60+30 fits, +30 doesn't (closes pack 0);
        30+20+20+20 fills pack 1 to 90. fold_pack would have made
        three 2-doc packs; NFD gets the same docs into two."""
        got = self._run(spark, [60, 30, 30, 20, 20, 20], 100)
        by_pack = {}
        for r in got.values():
            by_pack.setdefault(r["pack_id"], []).append(r["length"])
        assert sorted(by_pack[0], reverse=True) == [60, 30]
        assert sorted(by_pack[1], reverse=True) == [30, 20, 20, 20]
        assert len(by_pack) == 2
        # every pack respects capacity (no overflow docs here)
        assert all(sum(v) <= 100 for v in by_pack.values())
        assert not any(r["overflow"] for r in got.values())

    def test_pack_pos_orders_within_pack_and_determinism(self, spark):
        got = self._run(spark, [60, 30, 30, 20, 20, 20], 100)
        # pack_pos is 0-based and dense within each (stream, pack)
        from collections import defaultdict
        pos = defaultdict(list)
        for r in got.values():
            pos[(r["stream"], r["pack_id"])].append(r["pack_pos"])
        assert all(sorted(v) == list(range(len(v)))
                   for v in pos.values())
        again = self._run(spark, [60, 30, 30, 20, 20, 20], 100)
        assert got == again

    def test_oversized_doc_sits_alone_flagged(self, spark):
        got = self._run(spark, [150, 90, 10], 100)
        assert got[1]["overflow"] and got[1]["pack_pos"] == 0
        # nothing shares the oversized doc's pack
        assert sum(1 for r in got.values()
                   if r["pack_id"] == got[1]["pack_id"]) == 1
        assert got[2]["pack_id"] == got[3]["pack_id"]
        assert not got[2]["overflow"] and not got[3]["overflow"]

    def test_streams_partition_the_assignment(self, spark):
        """With many streams the same doc set packs per-stream; the
        stream id must match the portable md5 hash family."""
        import hashlib
        from spark_expectations_spark.operators import packing
        df = spark.createDataFrame([(i, 10) for i in range(1, 41)],
                                   "id long, ln long")
        rows = packing.nfd_pack(df, "id", "ln", capacity=35,
                                n_streams=4).collect()
        for r in rows:
            h = int(hashlib.md5(str(r["id"]).encode()).hexdigest()[:4],
                    16) % 4
            assert r["stream"] == h
        # cap 35 / len 10 -> every pack holds at most 3 docs
        from collections import Counter
        c = Counter((r["stream"], r["pack_id"]) for r in rows)
        assert max(c.values()) == 3

    def test_null_length_raises_and_validation(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import packing
        df = spark.createDataFrame([(1, 10), (2, None)],
                                   "id long, ln long")
        with _pytest.raises(Exception, match="NULL length"):
            packing.nfd_pack(df, "id", "ln", capacity=100).collect()
        with _pytest.raises(ValueError, match="capacity"):
            packing.nfd_pack(df, "id", "ln", capacity=0)
        with _pytest.raises(ValueError, match="n_streams"):
            packing.nfd_pack(df, "id", "ln", capacity=10, n_streams=0)


class TestQuantileHistogram:
    def _df(self, spark):
        rows = [(i, float(v), "d%d" % (i % 3)) for i, v in enumerate(
            [1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233])]
        return spark.createDataFrame(rows, "id int, v double, day string")

    def test_cells_are_exact(self, spark):
        from spark_expectations_spark.operators import sketches
        df = self._df(spark)
        cells = {r["bin"]: r for r in sketches.quantile_histogram(
            df, "v", [10.0, 100.0]).collect()}
        assert cells[0]["n"] == 5 and cells[0]["lo"] == 1.0 \
            and cells[0]["hi"] == 8.0
        assert cells[1]["n"] == 5 and cells[1]["lo"] == 13.0 \
            and cells[1]["hi"] == 89.0
        assert cells[2]["n"] == 2 and cells[2]["lo"] == 144.0 \
            and cells[2]["hi"] == 233.0

    def test_merge_equals_direct(self, spark):
        from spark_expectations_spark.operators import sketches
        df = self._df(spark)
        daily = sketches.quantile_histogram(df, "v", [10.0, 100.0],
                                            partition_cols=("day",))
        merged = sketches.quantile_histogram_merge(daily)
        direct = sketches.quantile_histogram(df, "v", [10.0, 100.0])
        m = sorted(map(tuple, merged.collect()))
        d = sorted(map(tuple, direct.collect()))
        assert m == d  # cell for cell: n by SUM, lo by MIN, hi by MAX

    def test_quantile_readoff_endpoints_and_interior(self, spark):
        from spark_expectations_spark.operators import sketches
        df = self._df(spark)
        sk = sketches.quantile_histogram(df, "v", [10.0, 100.0])
        got = {r["q"]: r["est"] for r in sketches.histogram_quantiles(
            sk, [0.0, 0.5, 1.0]).collect()}
        assert got[0.0] == 1.0 and got[1.0] == 233.0  # exact min / max
        # q=0.5: t=6, bin 0 holds 5 -> bin 1 with frac (6-5)/5 = 0.2:
        # est = 13 + (89-13)*0.2
        assert got[0.5] == pytest.approx(28.2)
        # estimates always land inside the true bin
        sk2 = sketches.quantile_histogram(df, "v", [3.5, 34.5])
        est = {r["q"]: r["est"] for r in sketches.histogram_quantiles(
            sk2, [0.25, 0.75]).collect()}
        assert 1.0 <= est[0.25] <= 3.0 and 55.0 <= est[0.75] <= 233.0

    def test_grouped_readoff_and_null_skip(self, spark):
        from spark_expectations_spark.operators import sketches
        df = self._df(spark).union(spark.createDataFrame(
            [(99, None, "d0")], "id int, v double, day string"))
        daily = sketches.quantile_histogram(df, "v", [10.0, 100.0],
                                            partition_cols=("day",))
        assert daily.agg(F.sum("n")).first()[0] == 12  # NULL skipped
        per = sketches.histogram_quantiles(daily, [1.0],
                                           group_cols=["day"])
        got = {r["day"]: r["est"] for r in per.collect()}
        # per-group max: d0 holds ids 0,3,6,9 -> values 1,5,21,89
        assert got["d0"] == 89.0

    def test_guards(self, spark):
        from spark_expectations_spark.operators import sketches
        df = self._df(spark)
        with pytest.raises(ValueError, match="increasing"):
            sketches.quantile_histogram(df, "v", [5.0, 5.0])
        with pytest.raises(ValueError, match="edge"):
            sketches.quantile_histogram(df, "v", [])
        with pytest.raises(ValueError, match="partition_cols"):
            sketches.quantile_histogram(df, "v", [5.0],
                                        partition_cols=("bin",))
        sk = sketches.quantile_histogram(df, "v", [5.0])
        with pytest.raises(ValueError, match="quantile"):
            sketches.histogram_quantiles(sk, [])
        with pytest.raises(ValueError, match="quantile"):
            sketches.histogram_quantiles(sk, [1.5])
        # ADVICE r13: the read-off mirrors the builder's reserved-name
        # guard — a group column named 'q' (or a working column) must
        # raise clearly, not fail as a duplicate column mid-plan
        with pytest.raises(ValueError, match="group_cols"):
            sketches.histogram_quantiles(sk, [0.5], group_cols=("q",))
        with pytest.raises(ValueError, match="group_cols"):
            sketches.histogram_quantiles(sk, [0.5], group_cols=("_cum",))


class TestMomentsSketch:
    def test_merge_equals_direct_and_stats(self, spark):
        from spark_expectations_spark.operators import sketches
        df = spark.createDataFrame(
            [(float(v), "d%d" % (i % 3)) for i, v in
             enumerate([1, 2, 3, 5, 8, 13, 21, 34])] + [(None, "d0")],
            "v double, day string")
        daily = sketches.moments_sketch(df, "v", partition_cols=("day",))
        merged = sketches.moments_merge(daily)
        direct = sketches.moments_sketch(df, "v")
        m, d = merged.first(), direct.first()
        assert m["n"] == d["n"] == 8  # NULL skipped
        assert m["s1"] == pytest.approx(d["s1"])
        assert m["s2"] == pytest.approx(d["s2"])
        assert (m["lo"], m["hi"]) == (d["lo"], d["hi"]) == (1.0, 34.0)
        st = sketches.moments_stats(merged).first()
        vals = [1, 2, 3, 5, 8, 13, 21, 34]
        mean = sum(vals) / 8
        assert st["mean"] == pytest.approx(mean)
        assert st["variance"] == pytest.approx(
            sum(v * v for v in vals) / 8 - mean * mean)

    def test_grouped_merge_and_guard(self, spark):
        from spark_expectations_spark.operators import sketches
        df = spark.createDataFrame(
            [(1.0, "a", "x"), (3.0, "a", "y"), (5.0, "b", "x")],
            "v double, g string, h string")
        cells = sketches.moments_sketch(df, "v",
                                        partition_cols=("g", "h"))
        coarser = {r["g"]: r for r in
                   sketches.moments_merge(cells, ["g"]).collect()}
        assert coarser["a"]["n"] == 2 and coarser["a"]["s1"] == 4.0
        assert coarser["b"]["hi"] == 5.0
        with pytest.raises(ValueError, match="partition_cols"):
            sketches.moments_sketch(df, "v", partition_cols=("s1",))


class TestCountMinSketch:
    def test_estimate_ge_true_and_exact_when_sparse(self, spark):
        """CMS guarantee: estimate >= true count always; with far more
        buckets than keys, collisions vanish and estimates are exact."""
        from spark_expectations_spark.operators import sketches
        rows = [(f"k{i % 10}",) for i in range(100)]
        df = spark.createDataFrame(rows, "k string")
        sk = sketches.count_min_sketch(df, "k", width=1024, depth=3)
        keys = spark.createDataFrame([(f"k{i}",) for i in range(10)],
                                     "k string")
        got = {r["k"]: r["cms_estimate"] for r in
               sketches.cms_lookup(sk, keys, "k",
                                   width=1024, depth=3).collect()}
        assert got == {f"k{i}": 10 for i in range(10)}

    def test_collisions_only_overestimate(self, spark):
        from spark_expectations_spark.operators import sketches
        rows = [(f"key{i}",) for i in range(200) for _ in (0, 1)]
        df = spark.createDataFrame(rows, "k string")
        # tiny sketch: 200 keys into 16 buckets -> heavy collisions
        sk = sketches.count_min_sketch(df, "k", width=16, depth=3)
        keys = spark.createDataFrame([(f"key{i}",) for i in range(200)],
                                     "k string")
        got = sketches.cms_lookup(sk, keys, "k", width=16,
                                  depth=3).collect()
        assert all(r["cms_estimate"] >= 2 for r in got)
        assert any(r["cms_estimate"] > 2 for r in got)  # collisions real
        # total cell mass per row == total observations
        per_row = {r["r"]: 0 for r in sk.collect()}
        for r in sk.collect():
            per_row[r["r"]] += r["n"]
        assert set(per_row.values()) == {400}

    def test_merge_by_cell_sum_and_unseen_key_zero(self, spark):
        """Summing two sketches' cells == sketching the union — the
        mergeability contract; a key hashing to untouched cells
        estimates exactly 0."""
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import sketches
        d1 = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
        d2 = spark.createDataFrame([("a",), ("c",)], "k string")
        s1 = sketches.count_min_sketch(d1, "k", width=64, depth=2)
        s2 = sketches.count_min_sketch(d2, "k", width=64, depth=2)
        merged = (s1.unionByName(s2).groupBy("r", "bucket")
                  .agg(F.sum("n").alias("n")))
        direct = sketches.count_min_sketch(
            d1.unionByName(d2), "k", width=64, depth=2)
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, direct.collect()))
        keys = spark.createDataFrame([("a",), ("zzz",)], "k string")
        got = {r["k"]: r["cms_estimate"] for r in
               sketches.cms_lookup(merged, keys, "k", width=64,
                                   depth=2).collect()}
        assert got["a"] == 3 and got["zzz"] == 0

    def test_validation_and_null_skip(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import sketches
        df = spark.createDataFrame([("a",), (None,)], "k string")
        sk = sketches.count_min_sketch(df, "k", width=8, depth=2)
        assert sum(r["n"] for r in sk.collect()) == 2  # 1 row x 2 hashes
        with _pytest.raises(ValueError, match="width"):
            sketches.count_min_sketch(df, "k", width=1)
        with _pytest.raises(ValueError, match="width"):
            sketches.cms_lookup(sk, df, "k", depth=0)

    def test_partition_cols_rollup_equals_direct(self, spark):
        """Per-partition sketches built in ONE pass (partition_cols)
        merge by cell sum into EXACTLY the whole-corpus sketch — the
        daily-rollup contract; reserved names are rejected."""
        import pytest as _pytest
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import sketches
        rows = [(i % 5, f"u{i % 17}") for i in range(200)]
        df = spark.createDataFrame(rows, "day long, k string")
        daily = sketches.count_min_sketch(
            df, "k", width=32, depth=2, partition_cols=("day",))
        assert daily.columns == ["day", "r", "bucket", "n"]
        merged = (daily.groupBy("r", "bucket")
                  .agg(F.sum("n").alias("n")))
        direct = sketches.count_min_sketch(df, "k", width=32, depth=2)
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, direct.collect()))
        with _pytest.raises(ValueError, match="partition_cols"):
            sketches.count_min_sketch(df, "k", partition_cols=("r",))

    def test_config_mismatch_raises_at_execution(self, spark):
        """A (width, depth) lookup/build mismatch must fail loudly —
        a depth mismatch can under-read and break the one-sided
        guarantee; the guard is lazy, so the error surfaces on
        collect. An empty sketch stays legitimately all-zero."""
        import pytest as _pytest
        from spark_expectations_spark.operators import sketches
        rows = [(f"k{i}",) for i in range(50)]
        df = spark.createDataFrame(rows, "k string")
        sk = sketches.count_min_sketch(df, "k", width=64, depth=3)
        keys = spark.createDataFrame([("k1",)], "k string")
        for bad in ({"width": 32, "depth": 3},   # build wider than probe
                    {"width": 128, "depth": 3},  # build NARROWER (the
                    # silent-under-read direction the sentinel pins)
                    {"width": 64, "depth": 2},   # extra r rows
                    {"width": 64, "depth": 4}):  # missing r rows
            with _pytest.raises(Exception, match="cms_lookup"):
                sketches.cms_lookup(sk, keys, "k", **bad).collect()
        empty = sketches.count_min_sketch(
            spark.createDataFrame([], "k string"), "k",
            width=64, depth=3)
        got = sketches.cms_lookup(empty, keys, "k",
                                  width=64, depth=3).first()
        assert got["cms_estimate"] == 0


class TestBloomFilter:
    def test_no_false_negatives_and_plausible_fpr(self, spark):
        """The Bloom contract: every present key probes True; absent
        keys probe True only at roughly the fill^k rate."""
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import sketches
        df = spark.range(0, 500).select((F.col("id") * 7 % 300)
                                        .alias("k"))
        b = sketches.bloom_filter(df, "k", n_bits=4096, k=3, salt="t")
        probe = spark.range(0, 600).select(F.col("id").alias("k"))
        got = sketches.bloom_might_contain(
            b, probe, "k", n_bits=4096, k=3, salt="t").collect()
        present = {r["k"] for r in df.distinct().collect()}
        assert all(r["might_contain"] for r in got if r["k"] in present)
        fp = sum(1 for r in got
                 if r["k"] not in present and r["might_contain"])
        rep = sketches.bloom_fill_report(b, n_bits=4096, k=3).first()
        assert rep["set_bits"] == sum(
            bin(r["bits"] & 0xFFFFFFFF).count("1") for r in b.collect())
        assert 0.0 < rep["fill_ratio"] < 0.5
        # observed FPR within a loose factor of the fill^k estimate
        assert fp / 300 <= 4 * rep["fpr_estimate"] + 0.02

    def test_merge_by_bit_or_equals_direct(self, spark):
        """OR-ing two filters over disjoint halves == the filter over
        the union — the mergeability contract, word for word."""
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import sketches
        df = spark.range(0, 200).select(F.col("id").alias("k"))
        h1 = sketches.bloom_filter(df.filter("k < 100"), "k",
                                   n_bits=1024, k=3)
        h2 = sketches.bloom_filter(df.filter("k >= 100"), "k",
                                   n_bits=1024, k=3)
        merged = (h1.unionByName(h2).groupBy("word")
                  .agg(F.bit_or("bits").alias("bits")))
        direct = sketches.bloom_filter(df, "k", n_bits=1024, k=3)
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, direct.collect()))

    def test_partition_cols_one_pass_daily_filters(self, spark):
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import sketches
        rows = [(i % 3, i % 40) for i in range(120)]
        df = spark.createDataFrame(rows, "day long, k long")
        daily = sketches.bloom_filter(df, "k", n_bits=512, k=2,
                                      partition_cols=("day",))
        assert daily.columns == ["day", "word", "bits"]
        merged = (daily.groupBy("word")
                  .agg(F.bit_or("bits").alias("bits")))
        direct = sketches.bloom_filter(df, "k", n_bits=512, k=2)
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, direct.collect()))

    def test_prefilter_join_equals_plain_join(self, spark):
        """The pre-filter wrapper is semantics-preserving: identical
        rows to the plain join for inner/semi/anti (false positives
        removed by the join, certain misses short-circuited)."""
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import sketches
        big = spark.range(0, 300).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("payload"))
        small = spark.range(0, 40).select(
            (F.col("id") * 3).alias("k"), F.lit("dim").alias("attr"))
        for how in ("inner", "left_semi", "left_anti"):
            got = sketches.bloom_prefilter_join(
                big, small, "k", how=how, n_bits=512, k=3)
            want = big.join(small if how == "inner" else small.select("k"),
                            "k", how)
            assert sorted(map(tuple, got.collect())) == \
                sorted(map(tuple, want.collect())), how
        import pytest as _pytest
        with _pytest.raises(ValueError, match="outer"):
            sketches.bloom_prefilter_join(big, small, "k", how="left")

    def test_validation_null_skip_and_shape_guard(self, spark):
        import pytest as _pytest
        from spark_expectations_spark.operators import sketches
        df = spark.createDataFrame([(1,), (None,)], "k long")
        b = sketches.bloom_filter(df, "k", n_bits=256, k=2)
        # one non-null key x 2 hashes -> at most 2 set bits
        rep = sketches.bloom_fill_report(b, n_bits=256, k=2).first()
        assert 1 <= rep["set_bits"] <= 2
        with _pytest.raises(ValueError, match="n_bits"):
            sketches.bloom_filter(df, "k", n_bits=16)
        with _pytest.raises(ValueError, match="partition_cols"):
            sketches.bloom_filter(df, "k", partition_cols=("word",))
        keys = spark.createDataFrame([(1,)], "k long")
        with _pytest.raises(Exception, match="bloom_might_contain"):
            sketches.bloom_might_contain(
                b, keys, "k", n_bits=64, k=2).collect()
        # the DANGEROUS direction: a SMALLER build probed at a larger
        # n_bits would silently return false negatives — the
        # width-pinning sentinel makes it raise instead
        small = sketches.bloom_filter(df, "k", n_bits=64, k=2)
        with _pytest.raises(Exception, match="bloom_might_contain"):
            sketches.bloom_might_contain(
                small, keys, "k", n_bits=256, k=2).collect()
        # an empty filter legitimately rejects everything
        empty = sketches.bloom_filter(
            spark.createDataFrame([], "k long"), "k", n_bits=256, k=2)
        got = sketches.bloom_might_contain(
            empty, keys, "k", n_bits=256, k=2).first()
        assert got["might_contain"] is False


class TestMannWhitneyU:
    """Rank-sum test: hand-computed U/z/p with ties, degenerate sides,
    and the A&S polynomial against the true normal tail."""

    def test_hand_computed_with_ties(self, spark):
        import math
        from spark_expectations_spark.operators import drift
        rows = [("g", 1.0, 0), ("g", 2.0, 0), ("g", 2.0, 0),
                ("g", 5.0, 0), ("g", 2.0, 1), ("g", 3.0, 1),
                ("g", 7.0, 1), ("g", 8.0, 1), ("g", 9.0, 1)]
        df = spark.createDataFrame(rows, "s string, v double, side int")
        r = drift.mann_whitney_u(df, "v", "side",
                                 group_cols=("s",)).first()
        # sorted: 1 | 2,2,2 (avg rank 3) | 3,5,7,8,9 → R₁ = 3+5+7+8+9
        # U = 32 − 5·6/2 = 17; ties Σ(t³−t) = 24
        assert (r["n1"], r["n2"]) == (5, 4)
        assert r["u"] == pytest.approx(17.0)
        # Cliff's delta = 2U/(n1·n2) − 1 = 34/20 − 1
        assert r["cliffs_delta"] == pytest.approx(0.7)
        z = 7.0 / math.sqrt((5 * 4 / 12) * (10 - 24 / 72))
        assert r["z"] == pytest.approx(z)
        # A&S polynomial within its 1.5e-7 bound of the true tail
        # (scipy-free reference: 2·(1−Φ(1.744)) ≈ 0.081167)
        assert r["p_value"] == pytest.approx(0.0811668, abs=5e-6)

    def test_degenerate_sides_and_guards(self, spark):
        from spark_expectations_spark.operators import drift
        df = spark.createDataFrame(
            [("a", 1.0, 0), ("a", 2.0, 0),      # side 1 empty
             ("b", 3.0, 0), ("b", 3.0, 1),      # all values tied: σ=0
             ("c", None, 1), ("c", 4.0, 2)],    # NULL v / side ∉ {0,1}
            "s string, v double, side int")
        out = {r["s"]: r for r in drift.mann_whitney_u(
            df, "v", "side", group_cols=("s",)).collect()}
        assert out["a"]["z"] is None and out["a"]["p_value"] is None
        assert out["a"]["u"] is None
        assert out["b"]["z"] is None            # tie-corrected σ = 0
        assert "c" not in out                   # nothing valid remains
        with pytest.raises(ValueError, match="collide"):
            drift.mann_whitney_u(
                df.withColumnRenamed("s", "z"), "v", "side",
                group_cols=("z",))

    def test_shift_detected_direction(self, spark):
        """A planted +shift on side 1 yields positive z and a small p;
        identical distributions yield z ≈ 0."""
        from spark_expectations_spark.operators import drift
        rows = ([("s", float(i % 17), 0) for i in range(60)]
                + [("s", float(i % 17) + 8.0, 1) for i in range(60)]
                + [("n", float(i % 17), i % 2) for i in range(120)])
        df = spark.createDataFrame(rows, "g string, v double, side int")
        out = {r["g"]: r for r in drift.mann_whitney_u(
            df, "v", "side", group_cols=("g",)).collect()}
        assert out["s"]["z"] > 5 and out["s"]["p_value"] < 1e-6
        assert abs(out["n"]["z"]) < 0.5 and out["n"]["p_value"] > 0.5


class TestTheilSenTrend:
    """Robust trend: outlier immunity, tied-x exclusion, even-count
    medians, single-point groups."""

    def test_outlier_immune_slope_and_intercept(self, spark):
        from spark_expectations_spark.operators import drift
        pts = [("g", 0.0, 1.0), ("g", 1.0, 3.0), ("g", 2.0, 5.0),
               ("g", 3.0, 7.0), ("g", 4.0, 100.0), ("h", 1.0, 5.0)]
        df = spark.createDataFrame(pts, "s string, x double, y double")
        out = {r["s"]: r for r in drift.theilsen_trend(
            df, "x", "y", group_cols=("s",)).collect()}
        g = out["g"]
        # 6 clean pairwise slopes of 2 outvote the 4 outlier pairs;
        # residual median of [1,1,1,1,92] = 1
        assert (g["n_points"], g["n_pairs"]) == (5, 10)
        assert g["slope"] == pytest.approx(2.0)
        assert g["intercept"] == pytest.approx(1.0)
        h = out["h"]
        assert (h["n_points"], h["n_pairs"]) == (1, 0)
        assert h["slope"] is None and h["intercept"] is None

    def test_tied_x_excluded_and_odd_median(self, spark):
        from spark_expectations_spark.operators import drift
        pts = [("g", 0.0, 0.0), ("g", 1.0, 1.0), ("g", 1.0, 9.0),
               ("g", 2.0, 4.0)]
        df = spark.createDataFrame(pts, "s string, x double, y double")
        r = drift.theilsen_trend(df, "x", "y", group_cols=("s",)).first()
        # pairs with distinct x only: slopes sorted [-5, 1, 2, 3, 9]
        assert r["n_pairs"] == 5
        assert r["slope"] == pytest.approx(2.0)

    def test_even_pair_count_averages_middles(self, spark):
        from spark_expectations_spark.operators import drift
        # 4 points, all x distinct → 6 pairs (even): median = avg of
        # the 3rd and 4th sorted slopes
        pts = [(0.0, 0.0), (1.0, 1.0), (2.0, 4.0), (3.0, 9.0)]
        df = spark.createDataFrame(pts, "x double, y double")
        r = drift.theilsen_trend(df, "x", "y").first()
        # slopes: 1, 2, 3, 3, 4, 5 → median (3+3)/2 = 3
        assert r["n_pairs"] == 6
        assert r["slope"] == pytest.approx(3.0)
        with pytest.raises(ValueError, match="collide"):
            drift.theilsen_trend(
                df.withColumn("slope", F.lit("x")), "x", "y",
                group_cols=("slope",))


class TestKendallTau:
    """tau-b: hand-computed pair fold with tie blocks, degenerate
    groups, perfect monotone."""

    def test_hand_computed_with_ties(self, spark):
        import math
        from spark_expectations_spark.operators import drift
        pts = [("g", 1.0, 1.0), ("g", 2.0, 3.0), ("g", 3.0, 2.0),
               ("g", 4.0, 4.0), ("g", 4.0, 5.0),
               ("solo", 1.0, 9.0),
               ("const", 1.0, 5.0), ("const", 2.0, 5.0)]
        df = spark.createDataFrame(pts, "s string, x double, y double")
        out = {r["s"]: r for r in drift.kendall_tau(
            df, "x", "y", group_cols=("s",)).collect()}
        g = out["g"]
        # 10 pairs: 8 concordant, 1 discordant, 1 x-tie; Tx=1, Ty=0
        assert (g["n_points"], g["n_pairs"]) == (5, 10)
        assert (g["concordant"], g["discordant"]) == (8, 1)
        assert g["tau_b"] == pytest.approx(7 / math.sqrt(90))
        assert out["solo"]["tau_b"] is None
        assert out["solo"]["n_pairs"] == 0
        assert out["const"]["tau_b"] is None      # constant y
        with pytest.raises(ValueError, match="collide"):
            drift.kendall_tau(df.withColumnRenamed("s", "tau_b"),
                              "x", "y", group_cols=("tau_b",))

    def test_perfect_monotone_and_reverse(self, spark):
        from spark_expectations_spark.operators import drift
        mono = spark.createDataFrame(
            [(float(i), float(i * i)) for i in range(6)],
            "x double, y double")
        assert drift.kendall_tau(mono, "x", "y").first()["tau_b"] == 1.0
        rev = mono.withColumn("y", -F.col("y"))
        assert drift.kendall_tau(rev, "x", "y").first()["tau_b"] == -1.0


class TestCochranArmitageTrend:
    """Ordered-bucket rate trend: hand-computed z/p, direction sign,
    degenerate all-flag group."""

    def test_hand_computed_rising_rate(self, spark):
        import math
        from spark_expectations_spark.operators import drift
        rows = []
        for w, r in [(1, 1), (2, 5), (3, 9)]:
            rows += [("g", w, 1)] * r + [("g", w, 0)] * (10 - r)
        rows += [("z", 1, 1), ("z", 2, 1)]        # all-flag: p̄(1−p̄)=0
        df = spark.createDataFrame(rows, "s string, b int, f int")
        out = {x["s"]: x for x in drift.cochran_armitage_trend(
            df, "b", "f", group_cols=("s",)).collect()}
        g = out["g"]
        # N=30 R=15 T=38 Σwn=60 Σw²n=140 → z = 8/√5
        assert (g["n"], g["n_flag"], g["n_buckets"]) == (30, 15, 3)
        assert g["z"] == pytest.approx(8 / math.sqrt(5))
        assert g["slope_sign"] == 1
        assert g["p_value"] < 0.001
        assert out["z"]["z"] is None and out["z"]["slope_sign"] is None

    def test_falling_rate_and_guard(self, spark):
        from spark_expectations_spark.operators import drift
        rows = ([("g", 1, 1)] * 9 + [("g", 1, 0)]
                + [("g", 2, 1)] + [("g", 2, 0)] * 9)
        df = spark.createDataFrame(rows, "s string, b int, f int")
        r = drift.cochran_armitage_trend(
            df, "b", "f", group_cols=("s",)).first()
        assert r["slope_sign"] == -1 and r["z"] < -3
        with pytest.raises(ValueError, match="collide"):
            drift.cochran_armitage_trend(
                df.withColumnRenamed("s", "z"), "b", "f",
                group_cols=("z",))


class TestSpearmanRho:
    """Average-rank Spearman: shortcut-formula parity on distinct
    ranks, exact tie handling, constant-variable NULL."""

    def test_distinct_ranks_match_shortcut(self, spark):
        from spark_expectations_spark.operators import drift
        pts = [("g", 1.0, 2.0), ("g", 2.0, 1.0), ("g", 3.0, 4.0),
               ("g", 4.0, 3.0), ("g", 5.0, 5.0),
               ("c", 1.0, 7.0), ("c", 2.0, 7.0)]
        df = spark.createDataFrame(pts, "s string, x double, y double")
        out = {r["s"]: r for r in drift.spearman_rho(
            df, "x", "y", group_cols=("s",)).collect()}
        # d = [-1,1,-1,1,0] → 1 − 6·4/120 = 0.8
        assert out["g"]["rho"] == pytest.approx(0.8)
        assert out["c"]["rho"] is None            # constant y

    def test_tie_blocks_use_average_ranks(self, spark):
        import math
        from spark_expectations_spark.operators import drift
        df = spark.createDataFrame(
            [(1.0, 1.0), (1.0, 2.0), (2.0, 3.0)], "x double, y double")
        r = drift.spearman_rho(df, "x", "y").first()
        # rx=[1.5,1.5,3], ry=[1,2,3] → 1.5/√3
        assert r["rho"] == pytest.approx(1.5 / math.sqrt(3.0))
        assert r["n_points"] == 3
        with pytest.raises(ValueError, match="collide"):
            drift.spearman_rho(df.withColumn("rho", F.lit(1)),
                               "x", "y", group_cols=("rho",))


class TestWavHeaderInfo:
    """Codegen RIFF/WAVE parsing: a hand-built canonical header
    round-trips every LE field; malformed layouts yield NULL structs."""

    def _wav(self, channels=2, rate=44100, bits=16, data=b"abcd"):
        import struct as st
        ba = channels * bits // 8
        return (b"RIFF" + st.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + st.pack("<IHHIIHH", 16, 1, channels, rate,
                                    rate * ba, ba, bits)
                + b"data" + st.pack("<I", len(data)) + data)

    def test_round_trip_and_malformed(self, spark):
        from pyspark.sql import functions as SF
        from spark_expectations_spark.operators import multimodal
        rows = [(1, self._wav()),
                (2, self._wav(channels=1, rate=8000, data=b"xy")),
                (3, b"GIF87a123"),                  # wrong container
                (4, self._wav()[:20]),              # truncated
                (5, None),                          # NULL bytes
                # extensible format (fmt size 18): canonical layout
                # breaks -> NULL struct, not garbage fields
                (6, self._wav().replace(b"fmt \x10", b"fmt \x12", 1))]
        df = spark.createDataFrame(rows, "id int, b binary")
        p = multimodal.wav_header_info(SF.col("b"))
        out = {r["id"]: r["w"] for r in df.select("id", p.alias("w"))
               .collect()}
        w1 = out[1]
        assert (w1["audio_format"], w1["channels"], w1["sample_rate"],
                w1["byte_rate"], w1["block_align"],
                w1["bits_per_sample"], w1["data_size"]) == \
            (1, 2, 44100, 176400, 4, 16, 4)
        w2 = out[2]
        assert (w2["channels"], w2["sample_rate"], w2["byte_rate"],
                w2["data_size"]) == (1, 8000, 16000, 2)
        for bad in (3, 4, 5, 6):
            assert out[bad] is None, bad


class TestPngGifHeaderInfo:
    """r15 verdict task 5: the WAV codegen pattern extended to PNG
    IHDR and GIF logical-screen headers — hand-built real headers
    round-trip every field; wrong magic / wrong first chunk / NULL
    bytes yield NULL structs."""

    def _png(self, w=640, h=480, depth=8, ctype=6, interlace=0):
        import struct as st
        return (b"\x89PNG\r\n\x1a\n" + st.pack(">I", 13) + b"IHDR"
                + st.pack(">IIBBBBB", w, h, depth, ctype, 0, 0,
                          interlace)
                + b"\xde\xad\xbe\xef" + b"payload")

    def _gif(self, version=b"89a", w=320, h=200, packed=0xf7, bg=5):
        import struct as st
        return (b"GIF" + version + st.pack("<HH", w, h)
                + bytes([packed, bg, 0]) + b"payload")

    def test_png_round_trip_and_malformed(self, spark):
        from pyspark.sql import functions as SF
        from spark_expectations_spark.operators import multimodal
        rows = [(1, self._png()),
                (2, self._png(w=1, h=2, depth=16, ctype=0, interlace=1)),
                (3, self._gif()),                   # wrong container
                (4, self._png()[:12]),              # truncated
                (5, None),
                # first chunk not IHDR (acTL first would be APNG-bad)
                (6, self._png().replace(b"IHDR", b"acTL", 1))]
        df = spark.createDataFrame(rows, "id int, b binary")
        p = multimodal.png_header_info(SF.col("b"))
        out = {r["id"]: r["s"] for r in df.select("id", p.alias("s"))
               .collect()}
        assert (out[1]["width"], out[1]["height"], out[1]["bit_depth"],
                out[1]["color_type"], out[1]["interlace"]) == \
            (640, 480, 8, 6, 0)
        assert (out[2]["width"], out[2]["height"], out[2]["bit_depth"],
                out[2]["color_type"], out[2]["interlace"]) == \
            (1, 2, 16, 0, 1)
        for bad in (3, 4, 5, 6):
            assert out[bad] is None, bad

    def test_gif_round_trip_and_malformed(self, spark):
        from pyspark.sql import functions as SF
        from spark_expectations_spark.operators import multimodal
        rows = [(1, self._gif()),                   # 0xf7: GCT, res 8,
                                                    # 2^8 colors
                (2, self._gif(version=b"87a", w=1, h=65535, packed=0x00,
                              bg=9)),               # no GCT -> bg NULL
                (3, self._png()),                   # wrong container
                (4, self._gif(version=b"88a")),     # unknown version
                (5, None)]
        df = spark.createDataFrame(rows, "id int, b binary")
        p = multimodal.gif_header_info(SF.col("b"))
        out = {r["id"]: r["s"] for r in df.select("id", p.alias("s"))
               .collect()}
        g1 = out[1]
        assert (g1["version"], g1["width"], g1["height"], g1["gct_flag"],
                g1["color_resolution"], g1["gct_colors"],
                g1["bg_index"]) == ("89a", 320, 200, True, 8, 256, 5)
        g2 = out[2]
        assert (g2["version"], g2["width"], g2["height"], g2["gct_flag"],
                g2["color_resolution"], g2["gct_colors"],
                g2["bg_index"]) == ("87a", 1, 65535, False, 1, 0, None)
        for bad in (3, 4, 5):
            assert out[bad] is None, bad


class TestJpegSofInfo:
    """r16: the aggregate-fold segment walker — SOF fields round-trip
    across variable APP-segment prefixes; non-JPEG, beyond-bound SOF,
    invalid markers and NULL bytes yield NULL structs."""

    def _jpeg(self, h=480, w=640, kind=0xC0, n_app=1, prec=8, comps=3):
        import struct as st
        b = b"\xff\xd8"
        for i in range(n_app):
            payload = b"JFIF" + bytes(10 + i)   # varying lengths
            b += b"\xff\xe0" + st.pack(">H", 2 + len(payload)) + payload
        sof = (st.pack(">BHHB", prec, h, w, comps)
               + b"\x01\x11\x00" * comps)
        b += bytes([0xFF, kind]) + st.pack(">H", 2 + len(sof)) + sof
        return b + b"\xff\xda\x00\x04\x00\x00" + b"entropy"

    def test_walker_round_trip_and_malformed(self, spark):
        from pyspark.sql import functions as SF
        from spark_expectations_spark.operators import multimodal
        rows = [(1, self._jpeg()),
                (2, self._jpeg(h=1, w=65535, kind=0xC2, n_app=3,
                               prec=12, comps=1)),
                (3, b"\x89PNGxxxx"),            # wrong container
                (4, self._jpeg(n_app=9)),       # SOF past max_segments
                (5, None),
                (6, b"\xff\xd8\xff\xff\x00\x04ab")]  # invalid marker
        df = spark.createDataFrame(rows, "id int, b binary")
        p = multimodal.jpeg_sof_info(SF.col("b"))
        out = {r["id"]: r["s"] for r in df.select("id", p.alias("s"))
               .collect()}
        assert (out[1]["sof_kind"], out[1]["precision"],
                out[1]["height"], out[1]["width"],
                out[1]["components"]) == ("baseline", 8, 480, 640, 3)
        assert (out[2]["sof_kind"], out[2]["precision"],
                out[2]["height"], out[2]["width"],
                out[2]["components"]) == ("progressive", 12, 1, 65535, 1)
        for bad in (3, 4, 5, 6):
            assert out[bad] is None, bad
        # raising the bound reaches the deep SOF row 4 could not
        deep = multimodal.jpeg_sof_info(SF.col("b"), max_segments=12)
        got = df.filter("id = 4").select(deep.alias("s")).first()["s"]
        assert got["height"] == 480 and got["width"] == 640


class TestMp4BoxInfo:
    """r16: the ISO-BMFF box walker — brand/minor/box-count/sizes
    round-trip over a hand-built chain; non-MP4, NULL bytes and a
    bogus-size leader yield NULL structs; truncation after ftyp
    leaves moov/mdat NULL (the range-read routing signal)."""

    def _box(self, btype, payload=b""):
        import struct as st
        return st.pack(">I", 8 + len(payload)) + btype + payload

    def _mp4(self, brand=b"isom", minor=512, free=True, moov_pad=20,
             mdat=b"AV"):
        import struct as st
        b = self._box(b"ftyp",
                      brand + st.pack(">I", minor) + b"isomavc1")
        if free:
            b += self._box(b"free", b"\x00" * 12)
        b += self._box(b"moov", b"\x00" * moov_pad)
        return b + self._box(b"mdat", mdat)

    def test_walker_round_trip_and_malformed(self, spark):
        import struct as st
        from pyspark.sql import functions as SF
        from spark_expectations_spark.operators import multimodal
        rows = [(1, self._mp4()),
                (2, self._mp4(brand=b"mp42", minor=0, free=False,
                              moov_pad=4, mdat=b"x" * 9)),
                (3, b"GIF89a1234"),              # wrong container
                (4, None),
                # extended-size (size==1) leader would shift the brand
                # field -> NULL struct, not a garbage brand
                (5, st.pack(">I", 1) + b"ftyp1234"),
                (6, self._mp4()[:20])]           # truncated after ftyp
        df = spark.createDataFrame(rows, "id int, b binary")
        p = multimodal.mp4_box_info(SF.col("b"))
        out = {r["id"]: r["s"] for r in df.select("id", p.alias("s"))
               .collect()}
        m1 = out[1]
        assert (m1["major_brand"], m1["minor_version"], m1["n_boxes"],
                m1["moov_size"], m1["mdat_size"]) == \
            ("isom", 512, 4, 28, 10)
        m2 = out[2]
        assert (m2["major_brand"], m2["minor_version"], m2["n_boxes"],
                m2["moov_size"], m2["mdat_size"]) == \
            ("mp42", 0, 3, 12, 17)
        for bad in (3, 4, 5):
            assert out[bad] is None, bad
        m6 = out[6]
        assert m6["n_boxes"] == 1 and m6["moov_size"] is None \
            and m6["mdat_size"] is None


class TestBmpDecode:
    """r16: REAL library-free image decoding — hand-built 24/32-bpp
    BMPs round-trip pixel-exact through decode_bmp (row padding,
    bottom-up flip, top-down, BGR order), the dHash path yields the
    hash of the KNOWN pixels, and undecodable bytes → NULL hash."""

    @staticmethod
    def _bmp(grid, bpp=24, top_down=False):
        """grid: rows of (b, g, r) tuples (or grayscale ints)."""
        import struct as st
        h, w = len(grid), len(grid[0])
        npx = bpp // 8
        stride = (w * npx + 3) // 4 * 4
        off = 54
        body = b""
        file_rows = grid if top_down else grid[::-1]
        for row in file_rows:
            rb = b""
            for p in row:
                b_, g, r = (p, p, p) if isinstance(p, int) else p
                rb += bytes([b_, g, r] + ([0] if npx == 4 else []))
            body += rb + b"\x00" * (stride - len(rb))
        hh = -h if top_down else h
        return (b"BM" + st.pack("<I", off + len(body)) + b"\x00" * 4
                + st.pack("<I", off)
                + st.pack("<iiiHHIIiiII", 40, w, hh, 1, bpp, 0,
                          len(body), 0, 0, 0, 0))[:54] + body

    def test_decode_exact_layouts(self):
        import numpy as np
        from spark_expectations_spark.operators import multimodal as mm
        grid = [[10, 20, 30, 40], [50, 60, 70, 80], [90, 100, 110, 120]]
        for bpp in (24, 32):
            for td in (False, True):
                got = mm.decode_bmp(self._bmp(grid, bpp=bpp,
                                              top_down=td))
                assert got.shape == (3, 4), (bpp, td)
                assert np.allclose(got, np.array(grid, dtype=float)), \
                    (bpp, td)
        # BGR order: pure-blue pixel -> 0.114, pure-red -> 0.299
        got = mm.decode_bmp(self._bmp([[(255, 0, 0), (0, 0, 255)]]))
        assert got[0, 0] == pytest.approx(0.114 * 255)
        assert got[0, 1] == pytest.approx(0.299 * 255)

    def test_rejects_unsupported(self):
        import pytest as pt
        from spark_expectations_spark.operators import multimodal as mm
        good = self._bmp([[1, 2], [3, 4]])
        for bad, msg in [
                (b"GIF89a" + bytes(60), "magic"),
                (good[:30], "magic"),          # too short
                (good[:14] + b"\x0c\x00\x00\x00" + good[18:], "header"),
                (good[:30] + b"\x01" + good[31:], "compression"),
                (good[:60], "truncated")]:   # full header, cut body
            with pt.raises(ValueError, match=msg):
                mm.decode_bmp(bad)

    def test_dhash_over_real_pixels(self, spark):
        from pyspark.sql import functions as SF
        from spark_expectations_spark.operators import multimodal as mm
        # 8 rows x 9 cols of known grayscale -> bits are pure integer
        # comparisons; alternating up/down staircase per row
        grid = [[(r * 13 + c * 7) % 256 for c in range(9)]
                for r in range(8)]
        want = 0
        for r in range(8):
            for c in range(8):
                want = (want << 1) | int(grid[r][c + 1] > grid[r][c])
        if want >= 1 << 63:
            want -= 1 << 64
        rows = [(1, self._bmp(grid)), (2, b"GIF89a not an image"),
                (3, None)]
        df = spark.createDataFrame(rows, "id long, b binary")
        out = {r["id"]: r["phash"] for r in mm.perceptual_hash(
            df, id_col="id", binary_col="b", codec="bmp").collect()}
        assert out[1] == want
        assert out[2] is None and out[3] is None


class TestContingencyEffects:
    """r16: adjusted standardized residuals + Cramér's V on a
    hand-computed 2×2 table; NULL folding and the degenerate-table
    NULL-V path."""

    def test_hand_computed_2x2(self, spark):
        import math
        from spark_expectations_spark.operators import drift
        rows = ([("A", "X")] * 10 + [("A", "Y")] * 20
                + [("B", "X")] * 30 + [("B", "Y")] * 40)
        df = spark.createDataFrame(rows, "r string, c string")
        out = {(x["row_cat"], x["col_cat"]): x
               for x in drift.contingency_effects(df, "r", "c").collect()}
        # margins: rt(A)=30 rt(B)=70 ct(X)=40 ct(Y)=60 N=100
        ax = out[("A", "X")]
        assert ax["n"] == 10 and ax["expected"] == pytest.approx(12.0)
        # (10-12)/sqrt(12*(1-0.3)*(1-0.4))
        assert ax["std_residual"] == pytest.approx(
            -2 / math.sqrt(12 * 0.7 * 0.6))
        chi2 = 4 / 12 + 4 / 18 + 4 / 28 + 4 / 42
        for cell in out.values():
            assert cell["cramers_v"] == pytest.approx(
                math.sqrt(chi2 / 100))
        # in a 2x2 every cell's |residual| is identical
        assert abs(out[("B", "Y")]["std_residual"]) == pytest.approx(
            abs(ax["std_residual"]))

    def test_null_folds_and_degenerate_table(self, spark):
        from spark_expectations_spark.operators import drift
        df = spark.createDataFrame(
            [("A", None), ("A", "X"), (None, "X")], "r string, c string")
        out = {(x["row_cat"], x["col_cat"])
               for x in drift.contingency_effects(df, "r", "c").collect()}
        assert ("A", "__null__") in out and ("__null__", "X") in out
        # single row category -> min(r-1, c-1) == 0 -> V is NULL
        one = spark.createDataFrame(
            [("A", "X"), ("A", "Y")], "r string, c string")
        got = drift.contingency_effects(one, "r", "c").collect()
        assert all(x["cramers_v"] is None for x in got)
        with pytest.raises(ValueError, match="collide"):
            drift.contingency_effects(
                df.withColumn("n", F.lit(1)), "r", "c",
                group_cols=("n",))


class TestRankOpsNanContract:
    """NaN values are dropped like NULL across the r15 rank/trend
    family — engines disagree on NaN's sort slot, so letting it rank
    would break the oracle contract."""

    def test_nan_dropped_everywhere(self, spark):
        from spark_expectations_spark.operators import drift
        nan = float("nan")
        mw = spark.createDataFrame(
            [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1), (nan, 1)],
            "v double, side int")
        r = drift.mann_whitney_u(mw, "v", "side").first()
        assert (r["n1"], r["n2"]) == (2, 2)       # NaN row gone
        xy = spark.createDataFrame(
            [(1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (nan, 9.0), (4.0, nan)],
            "x double, y double")
        assert drift.theilsen_trend(xy, "x", "y").first()["n_points"] == 3
        assert drift.kendall_tau(xy, "x", "y").first()["n_points"] == 3
        assert drift.spearman_rho(xy, "x", "y").first()["n_points"] == 3
        ca = spark.createDataFrame(
            [(1.0, 1), (1.0, 0), (2.0, 1), (nan, 1)], "b double, f int")
        assert drift.cochran_armitage_trend(ca, "b", "f").first()["n"] == 3


class TestBrierDecomposition:
    """Murphy decomposition: hand-computed terms on a 2-bin fixture,
    the constant-forecast zero-resolution case, the residual identity,
    and the shared drop rule."""

    def test_hand_computed_two_bins(self, spark):
        from spark_expectations_spark.operators import text
        # bin 0 (scores <.5): s=[.2,.2], y=[0,1]; bin 1: s=[.8], y=[1]
        rows = [(0.2, 0), (0.2, 1), (0.8, 1),
                (None, 1), (1.5, 0), (-0.1, 1)]   # dropped by contract
        df = spark.createDataFrame(rows, "score double, label int")
        r = text.brier_decomposition(df, "score", "label",
                                     n_bins=2).first()
        # brier = (.04 + .64 + .04)/3 = .24 ; obar = 2/3
        # rel = (2(.2-.5)^2 + 1(.8-1)^2)/3 = (.18+.04)/3
        # res = (2(.5-2/3)^2 + 1(1-2/3)^2)/3 = (.0556+.1111)/3
        # unc = 2/9
        assert r["n"] == 3
        assert r["brier"] == pytest.approx(0.24)
        assert r["reliability"] == pytest.approx(0.22 / 3)
        assert r["resolution"] == pytest.approx(
            (2 * (1 / 6) ** 2 + (1 / 3) ** 2) / 3)
        assert r["uncertainty"] == pytest.approx(2 / 9)
        assert r["residual"] == pytest.approx(
            r["brier"] - (r["reliability"] - r["resolution"]
                          + r["uncertainty"]))

    def test_constant_forecast_has_zero_resolution(self, spark):
        from spark_expectations_spark.operators import text
        rows = [(0.5, i % 2) for i in range(10)]
        df = spark.createDataFrame(rows, "score double, label int")
        r = text.brier_decomposition(df, "score", "label").first()
        assert r["resolution"] == pytest.approx(0.0)
        assert r["uncertainty"] == pytest.approx(0.25)
        assert r["brier"] == pytest.approx(0.25)
        # single-valued bins -> the identity closes exactly
        assert r["residual"] == pytest.approx(0.0)
