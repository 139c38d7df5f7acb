"""Property-based tests (hypothesis) for driver-side parsing/compile logic.

Goes beyond the reference's example-based strategy (SURVEY.md §5: no
property testing there) on the pure-python pieces where randomized inputs
pay off most.
"""

from hypothesis import given, settings
from hypothesis import strategies as st
import pytest

from spark_expectations_spark.core.rules import (
    coerce_record, looks_aggregate, parse_composite, Rule,
)
from spark_expectations_spark.operators.agg_dq import parse_expectation

ident = st.text(alphabet="abcdefgxyz_", min_size=1, max_size=8)
number = st.integers(min_value=0, max_value=10**6)


class TestParseExpectation:
    @given(col=ident, op=st.sampled_from(["<", ">", "<=", ">=", "=", "!="]),
           bound=number)
    def test_simple_comparison_roundtrip(self, col, op, bound):
        p = parse_expectation(f"sum({col}) {op} {bound}")
        assert p is not None
        assert p.source_expr == f"sum({col})"
        assert p.op == op
        assert p.expected == str(bound)

    @given(col=ident, lo=number, hi=number)
    def test_between_roundtrip(self, col, lo, hi):
        p = parse_expectation(f"avg({col}) between {lo} and {hi}")
        assert p is not None
        assert p.source_expr == f"avg({col})"
        assert p.op == "between"
        assert p.expected == f"{lo} and {hi}"

    @given(s=st.text(alphabet="'\"()<>=ab ", max_size=30))
    def test_never_crashes_on_garbage(self, s):
        parse_expectation(s)  # must not raise

    @given(col=ident, bound=number)
    def test_op_inside_string_literal_ignored(self, col, bound):
        p = parse_expectation(f"count(case when {col} = 'a>b' then 1 end) > {bound}")
        assert p is not None
        assert p.op == ">"
        assert p.expected == str(bound)


class TestLooksAggregate:
    @given(col=ident, fn=st.sampled_from(["sum", "avg", "min", "max", "count"]))
    def test_plain_agg_detected(self, col, fn):
        assert looks_aggregate(f"{fn}({col}) > 1")

    @given(col=ident, fn=st.sampled_from(["sum", "avg", "count"]))
    def test_windowed_agg_not_aggregate(self, col, fn):
        assert not looks_aggregate(f"{fn}({col}) over (partition by {col}) = 1")

    @given(col=ident)
    def test_plain_predicate_not_aggregate(self, col):
        assert not looks_aggregate(f"{col} > 1 and {col} < 100")


class TestCoerceRecord:
    @given(active=st.sampled_from([True, False, "true", "false", "1", "0",
                                   "yes", "no", None]),
           threshold=st.one_of(st.integers(0, 100), st.text("0123456789", max_size=3),
                               st.none()))
    @settings(max_examples=50)
    def test_bool_int_coercion_total(self, active, threshold):
        r = coerce_record(dict(
            product_id="p", table_name="t", rule_type="row_dq", rule="r",
            column_name="c", expectation="c > 0",
            is_active=active, error_drop_threshold=threshold))
        assert isinstance(r.is_active, bool)
        assert isinstance(r.error_drop_threshold, int)


class TestCompositeParsing:
    @given(aliases=st.lists(ident, min_size=1, max_size=3, unique=True))
    def test_composite_split(self, aliases):
        base = " and ".join(f"({{{a}}}) > 0" for a in aliases)
        parts = [base]
        for a in aliases:
            parts += [a, f"(select count(*) from t_{a})"]
        rule = Rule("p", "t", "query_dq", "r", "c", "@".join(parts))
        parsed = parse_composite(rule)
        assert set(parsed.secondary_queries) == set(aliases)
        for a in aliases:
            assert f"(select count(*) from t_{a})" in parsed.expectation
        assert "{" not in parsed.expectation


class TestAsofProperty:
    @given(
        left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)),
                      min_size=1, max_size=25),
        right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100),
                                 st.integers(-999, 999)),
                       min_size=0, max_size=25),
    )
    @settings(max_examples=12, deadline=None)
    def test_asof_matches_bruteforce(self, spark, left, right):
        """asof_join == 'latest right at-or-before left per key' computed
        naively in python, for arbitrary key/ts collisions on the left.
        Right-side ts are deduped per key (the match is otherwise
        ambiguous — both engines may pick either)."""
        from spark_expectations_spark.operators import asof
        seen = set()
        right = [r for r in right
                 if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))]
        ldf = spark.createDataFrame(
            [(k, ts, i) for i, (k, ts) in enumerate(left)],
            "k long, ts long, row_id long")
        rdf = (spark.createDataFrame(right, "k long, ts long, val long")
               if right else
               spark.createDataFrame([], "k long, ts long, val long"))
        out = {r["row_id"]: r["val"]
               for r in asof.asof_join(ldf, rdf, on=["k"], left_ts="ts",
                                       right_ts="ts",
                                       value_cols=["val"]).collect()}
        for i, (k, ts) in enumerate(left):
            cands = [(rts, v) for rk, rts, v in right if rk == k and rts <= ts]
            expect = max(cands)[1] if cands else None
            assert out[i] == expect, (i, k, ts, cands)


class TestRowRuleDifferential:
    """The core operator vs Spark itself as the oracle: for arbitrary
    generated predicates, the engine's error/output counts must equal a
    direct filter over the same frame (three-valued logic included)."""

    _ops = st.sampled_from([">", "<", ">=", "<=", "=", "!="])
    _vals = st.integers(-2, 5)

    @given(op1=_ops, v1=_vals, op2=_ops, v2=_vals,
           conj=st.sampled_from(["and", "or"]),
           action=st.sampled_from(["ignore", "drop"]))
    @settings(max_examples=10, deadline=None)
    def test_engine_counts_match_direct_filter(self, spark, op1, v1, op2, v2,
                                               conj, action):
        from pyspark.sql import functions as F
        from spark_expectations_spark import DQConfig, DQEngine, Rule, RuleSet
        df = spark.createDataFrame(
            [(1, 2), (2, None), (None, 4), (3, 3), (0, -1)],
            "col1 int, col3 int")
        pred = f"(col1 {op1} {v1}) {conj} (col3 {op2} {v2})"
        rules = RuleSet([Rule("p", "t", "row_dq", "r", "col1", pred,
                              action_if_failed=action)])
        res = DQEngine(DQConfig(product_id="p", table_name="t",
                                write_error_table=False)).run(df, rules, spark)
        holds = F.coalesce(F.expr(pred).cast("boolean"), F.lit(False))
        expect_errors = df.filter(~holds).count()
        assert res.error_count == expect_errors
        assert res.output_count == (
            5 - expect_errors if action == "drop" else 5)
        assert res.final_df.count() == res.output_count


class TestIncrementalDedupProperty:
    """incremental_dedup == (batch minus indexed fps, then exact dedup):
    the admitted set must have unique fingerprints, none in the index,
    and cover every non-indexed fingerprint with its min-id row."""

    @given(
        batch=st.lists(st.tuples(st.integers(0, 30), st.integers(0, 5)),
                       min_size=1, max_size=25, unique_by=lambda t: t[0]),
        index=st.lists(st.integers(0, 5), max_size=4),
    )
    @settings(max_examples=10, deadline=None)
    def test_matches_reference_semantics(self, spark, batch, index):
        from spark_expectations_spark.operators import dedup as dd
        bdf = spark.createDataFrame(
            [(i, f"fp{f}") for i, f in batch], "doc_id long, fingerprint string")
        idf = spark.createDataFrame(
            [(f"fp{f}",) for f in index] or [], "fingerprint string")
        got = {(r["doc_id"], r["fingerprint"])
               for r in dd.incremental_dedup(bdf, idf, "doc_id").collect()}
        indexed = {f"fp{f}" for f in index}
        expect = {}
        for i, f in sorted(batch):
            fp = f"fp{f}"
            if fp not in indexed and fp not in expect:
                expect[fp] = i
        assert got == {(i, fp) for fp, i in expect.items()}


class TestSamplePerGroupProperty:
    """The n-per-group pick is a pure function of the group's member
    set: invariant under row order and partitioning, always a subset,
    capped at n per group."""

    @given(
        rows=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                      min_size=1, max_size=30, unique_by=lambda t: t[1]),
        n=st.integers(1, 4),
    )
    @settings(max_examples=10, deadline=None)
    def test_invariance_subset_cap(self, spark, rows, n):
        from spark_expectations_spark.operators import sampling
        df1 = spark.createDataFrame(rows, "grp long, key long")
        df2 = spark.createDataFrame(list(reversed(rows)), "grp long, key long") \
                   .repartition(7)
        pick = lambda df: sorted(  # noqa: E731
            (r["grp"], r["key"])
            for r in sampling.sample_per_group(df, ["grp"], "key", n).collect())
        p1, p2 = pick(df1), pick(df2)
        assert p1 == p2
        assert set(p1) <= {(g, k) for g, k in rows}
        from collections import Counter
        assert all(c <= n for c in Counter(g for g, _ in p1).values())


class TestQuantileBucketsProperty:
    @given(scores=st.lists(st.integers(-1000, 1000), min_size=4, max_size=40))
    @settings(max_examples=10, deadline=None)
    def test_matches_numpy_linear_interpolation(self, spark, scores):
        """Bucket labels == the numpy 'linear' (interpolated) percentile
        reference for arbitrary integer scores in one group."""
        import numpy as np
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([("g", i, s) for i, s in enumerate(scores)],
                                   "g string, i long, s long")
        out = {r["i"]: r["bucket"]
               for r in sampling.quantile_buckets(df, "g", "s").collect()}
        q25 = np.percentile(scores, 25, method="linear")
        q75 = np.percentile(scores, 75, method="linear")
        for i, s in enumerate(scores):
            expect = "head" if s >= q75 else ("middle" if s >= q25 else "tail")
            assert out[i] == expect, (i, s, q25, q75)


class TestEpochShuffleProperty:
    @given(ids=st.lists(st.integers(0, 10 ** 9), min_size=1, max_size=60,
                        unique=True),
           seed=st.integers(0, 3), shards=st.integers(1, 5))
    @settings(max_examples=10, deadline=None)
    def test_addresses_form_a_partitioned_permutation(self, spark, ids,
                                                      seed, shards):
        """Every row gets a unique (shard, pos); per-shard positions are
        0..n_i-1; shard ids stay within range."""
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame([(i,) for i in ids], "k long")
        rows = sampling.epoch_shuffle(df, "k", seed=seed,
                                      num_shards=shards).collect()
        addrs = [(r["shard"], r["pos"]) for r in rows]
        assert len(set(addrs)) == len(ids)
        by_shard = {}
        for s, p in addrs:
            assert 0 <= s < shards
            by_shard.setdefault(s, []).append(p)
        for poss in by_shard.values():
            assert sorted(poss) == list(range(len(poss)))


class TestVocabRoundTripProperty:
    @given(docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=8),
        min_size=1, max_size=10))
    @settings(max_examples=10, deadline=None)
    def test_encode_then_decode_is_identity(self, spark, docs):
        """With an uncut vocab there is no OOV: decoding the id sequence
        through the vocab reproduces every document's token sequence."""
        from pyspark.sql import functions as F
        from spark_expectations_spark.operators import text as t
        df = spark.createDataFrame(
            [(i, " ".join(d)) for i, d in enumerate(docs)],
            "id long, text string")
        vocab = t.build_vocab(df, "text")
        id2tok = {r["token_id"]: r["token"] for r in vocab.collect()}
        enc = t.encode_tokens(df, vocab, "id", "text").collect()
        got = {r["id"]: [id2tok[i] for i in r["token_ids"]] for r in enc}
        for i, d in enumerate(docs):
            assert got[i] == d, (i, d, got[i])


class TestTwoPhaseSamplerProperties:
    """Round-5 two-phase bucket selection vs a brute-force python
    reference over arbitrary corpora — the kept set must be a pure
    function of (keys, weights/budgets), bit-identical to the old
    single-window ordering (md5 bucket asc, key asc)."""

    @staticmethod
    def _bucket(key) -> int:
        import hashlib
        return int(hashlib.md5(str(key).encode()).hexdigest()[:4], 16)

    @given(
        counts=st.tuples(st.integers(1, 40), st.integers(1, 40),
                         st.integers(0, 40)),
        weights=st.tuples(st.integers(1, 1000), st.integers(1, 1000),
                          st.integers(1, 1000)),
    )
    @settings(max_examples=8, deadline=None)
    def test_mixture_matches_bruteforce(self, spark, counts, weights):
        import math
        rows = [(s * 1000 + i, f"s{s}")
                for s, n in enumerate(counts) for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        wm = {f"s{i}": w for i, w in enumerate(weights)}
        from spark_expectations_spark.operators import sampling
        got = sorted((r["source"], r["doc_id"]) for r in
                     sampling.mixture_resample(
                         df, "doc_id", "source", wm).collect())
        # brute force: exact integer quotas + md5-rank selection
        present = {s: sum(1 for _, src in rows if src == s)
                   for s in wm if any(src == s for _, src in rows)}
        want = []
        if present:
            n_b, w_b = min(((n, wm[s]) for s, n in present.items()),
                           key=lambda t: t[0] / t[1])
            for s, n in present.items():
                quota = math.floor(n_b * wm[s] / w_b)
                members = sorted(
                    ((self._bucket(i), i) for i, src in rows if src == s))
                want += [(s, i) for _, i in members[:quota]]
        assert got == sorted(want)

    @given(
        toks=st.lists(st.integers(0, 50), min_size=0, max_size=30),
        budget=st.integers(0, 400),
    )
    @settings(max_examples=8, deadline=None)
    def test_token_budget_matches_bruteforce(self, spark, toks, budget):
        rows = [(i, "g", t) for i, t in enumerate(toks)]
        if not rows:
            return
        df = spark.createDataFrame(rows, "id long, g string, tok int")
        from spark_expectations_spark.operators import sampling
        got = sorted(r["id"] for r in sampling.token_budget_sample(
            df, "g", "id", "tok", budget=budget).collect())
        members = sorted((self._bucket(i), i) for i, _, _ in rows)
        kept, cum = [], 0
        tok_of = dict((i, t) for i, _, t in rows)
        for _, i in members:
            if cum < budget:
                kept.append(i)
            cum += tok_of[i]
        assert got == sorted(kept)


class TestDupSpanCoverageDifferential:
    """dup_span_coverage vs a naive python implementation on tiny-vocab
    corpora (forced gram collisions): per-doc covered-token counts must
    equal the union of [s, s+n) over grams occurring in >= min_df
    DISTINCT documents."""

    @given(
        docs=st.lists(st.lists(st.integers(0, 3), min_size=0, max_size=12),
                      min_size=1, max_size=6),
        n=st.integers(1, 4),
    )
    @settings(max_examples=10, deadline=None)
    def test_matches_bruteforce(self, spark, docs, n):
        from spark_expectations_spark.operators import dedup
        texts = [(i, " ".join(f"w{t}" for t in d)) for i, d in
                 enumerate(docs)]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {r["doc_id"]: (r["n_tokens"], r["covered_tokens"])
               for r in dedup.dup_span_coverage(
                   df, "doc_id", "text", n=n).collect()}

        # brute force (mirror tokens_col: split on whitespace of the
        # trimmed text — an empty doc is ONE empty-string token)
        toks = {i: (t.strip().split() if t.strip() else [""])
                for i, t in texts}
        gram_docs: dict[tuple, set] = {}
        for i, ts in toks.items():
            for s in range(len(ts) - n + 1):
                gram_docs.setdefault(tuple(ts[s:s + n]), set()).add(i)
        for i, ts in toks.items():
            covered = set()
            for s in range(len(ts) - n + 1):
                if len(gram_docs[tuple(ts[s:s + n])]) >= 2:
                    covered.update(range(s, s + n))
            assert got[i] == (len(ts), len(covered)), (i, ts)


class TestRemoveDupSpansDifferential:
    """remove_dup_spans vs a naive python implementation on tiny-vocab
    corpora: kept text must equal the tokens outside the union of
    non-exempt duplicated-gram spans, where the single exempt
    occurrence per gram is the global (doc_id, pos) minimum."""

    @given(
        docs=st.lists(st.lists(st.integers(0, 3), min_size=1, max_size=12),
                      min_size=1, max_size=6),
        n=st.integers(1, 4),
    )
    @settings(max_examples=10, deadline=None)
    def test_matches_bruteforce(self, spark, docs, n):
        from spark_expectations_spark.operators import dedup
        texts = [(i, " ".join(f"w{t}" for t in d))
                 for i, d in enumerate(docs)]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {r["doc_id"]: (r["dedup_text"], r["n_tokens"],
                             r["removed_tokens"])
               for r in dedup.remove_dup_spans(
                   df, "doc_id", "text", n=n).collect()}

        toks = {i: t.split() for i, t in texts}
        occs: dict[tuple, list] = {}
        for i, ts in sorted(toks.items()):
            for s in range(len(ts) - n + 1):
                occs.setdefault(tuple(ts[s:s + n]), []).append((i, s))
        removed: dict[int, set] = {i: set() for i in toks}
        for gram, places in occs.items():
            if len({i for i, _ in places}) < 2:
                continue
            first = min(places)
            for i, s in places:
                if (i, s) != first:
                    removed[i].update(range(s, s + n))
        for i, ts in toks.items():
            kept = [t for p, t in enumerate(ts) if p not in removed[i]]
            assert got[i] == (" ".join(kept), len(ts),
                              len(removed[i])), (i, ts)


class TestParagraphDedupDifferential:
    """paragraph_dedup vs a naive python implementation on tiny-vocab
    corpora: each document must rebuild from exactly its paragraphs
    that are the globally-first occurrence (by (doc_id, position)) of
    their text, in original order, separator-lossless."""

    @given(
        docs=st.lists(st.lists(st.integers(0, 2), min_size=0, max_size=6),
                      min_size=1, max_size=6),
        min_chars=st.sampled_from([1, 2]),
    )
    @settings(max_examples=10, deadline=None)
    def test_matches_bruteforce(self, spark, docs, min_chars):
        from spark_expectations_spark.operators import dedup
        texts = [(i, "|".join(f"p{t}" for t in d))
                 for i, d in enumerate(docs)]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {r["doc_id"]: r["dedup_text"]
               for r in dedup.paragraph_dedup(
                   df, "doc_id", "text", sep="|",
                   min_chars=min_chars, hash_family="exact").collect()}

        first: dict[str, tuple] = {}
        for i, t in sorted(texts):
            for pos, para in enumerate(t.split("|")):
                if len(para) >= min_chars and para not in first:
                    first[para] = (i, pos)
        for i, t in texts:
            kept = [para for pos, para in enumerate(t.split("|"))
                    if len(para) < min_chars
                    or first[para] == (i, pos)]
            assert got[i] == "|".join(kept), (i, t)


class TestDenseGlobalIndexProperty:
    """dense_global_index == enumerate(sorted(...)) for arbitrary lead
    values (duplicates, negatives, skew) and bucket counts — threshold
    placement must never change the emitted rank."""

    @given(
        leads=st.lists(st.integers(-5, 5), min_size=1, max_size=40),
        num_buckets=st.sampled_from([1, 2, 7, 64]),
    )
    @settings(max_examples=10, deadline=None)
    def test_matches_sorted_enumerate(self, spark, leads, num_buckets):
        from spark_expectations_spark.operators import sampling
        rows = [(i, v) for i, v in enumerate(leads)]
        df = spark.createDataFrame(rows, "k long, v long").repartition(3)
        got = {r["k"]: r["global_id"]
               for r in sampling.dense_global_index(
                   df, ["v", "k"], num_buckets=num_buckets).collect()}
        expect = {k: rank for rank, (v, k) in
                  enumerate(sorted((v, k) for k, v in rows))}
        assert got == expect


class TestStripHtmlProperty:
    """With entity decoding OFF, strip_html output can never contain a
    tag-shaped span — the over-stripping guarantee — and it never
    raises on arbitrary markup soup."""

    _soup = st.text(alphabet="<>/ab c!-=\"'\n", max_size=60)

    @given(s=_soup)
    @settings(max_examples=15, deadline=None)
    def test_no_tags_survive(self, spark, s):
        import re

        from pyspark.sql import functions as F

        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame([(s,)], "t string")
        got = df.select(T.strip_html(
            F.col("t"), decode_entities=False).alias("o")).first()["o"]
        assert got is not None
        assert not re.search(r"<[^>]+>", got), (s, got)


class TestC4LineFilterProperty:
    """c4_line_filter is idempotent: a kept line is kept again (the
    rules judge line content the filter never rewrites)."""

    _line = st.sampled_from([
        "This is a decent sentence.", "tiny.", "no punct here",
        "Enable JavaScript now.", "see our privacy policy.",
        "Another good one!", "", "   ", "one two three."])

    @given(lines=st.lists(_line, min_size=1, max_size=8))
    @settings(max_examples=10, deadline=None)
    def test_idempotent(self, spark, lines):
        from pyspark.sql import functions as F

        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame([("\n".join(lines),)], "t string")
        once = df.select(T.c4_line_filter(F.col("t")).alias("a"))
        twice = once.select(T.c4_line_filter(F.col("a")).alias("b"))
        assert twice.first()["b"] == once.first()["a"]


class TestUrlNormalizeProperty:
    """url_normalize is a canonical form: idempotent (normalizing a
    normalized URL is the identity), and parse-stable (url_parts of the
    normalized URL agrees on scheme/host/path)."""

    _host = st.from_regex(r"[a-z]{1,6}(\.[a-z]{2,5}){1,2}",
                          fullmatch=True)
    _path = st.from_regex(r"(/[A-Za-z0-9._-]{0,6}){0,3}", fullmatch=True)
    _params = st.lists(
        st.tuples(st.sampled_from(
            ["id", "q", "page", "utm_source", "utm_b", "gclid", "ref"]),
            st.integers(0, 99)),
        max_size=4)

    @given(scheme=st.sampled_from(["http", "https", "HTTP", "HTTPS"]),
           host=_host, port=st.sampled_from([None, 80, 443, 8080]),
           path=_path, params=_params,
           frag=st.sampled_from([None, "top", "sec-2"]))
    @settings(max_examples=15, deadline=None)
    def test_idempotent_and_parse_stable(self, spark, scheme, host,
                                         port, path, params, frag):
        from pyspark.sql import functions as F

        from spark_expectations_spark.operators import text as T
        url = f"{scheme}://{host}"
        if port is not None:
            url += f":{port}"
        url += path
        if params:
            url += "?" + "&".join(f"{k}={v}" for k, v in params)
        if frag is not None:
            url += f"#{frag}"
        df = spark.createDataFrame([(url,)], "u string")
        once = df.select(T.url_normalize(F.col("u")).alias("n"))
        n1 = once.first()["n"]
        n2 = once.select(
            T.url_normalize(F.col("n")).alias("n2")).first()["n2"]
        assert n2 == n1
        p = once.select(T.url_parts(F.col("n")).alias("p")).first()["p"]
        assert p is not None and p["scheme"] == scheme.lower()
        assert p["host"] == host
        assert p["fragment"] is None


class TestMadOutliersDifferential:
    """mad_outliers vs python statistics.median brute force: Spark's
    exact percentile(0.5) interpolates identically, so robust_z and
    flags must match bit-for-bit on integer scores."""

    @given(
        vals=st.lists(st.integers(-50, 50), min_size=1, max_size=25),
        k=st.sampled_from([1.0, 2.5, 3.5]),
    )
    @settings(max_examples=10, deadline=None)
    def test_matches_bruteforce(self, spark, vals, k):
        import statistics

        import pytest
        from spark_expectations_spark.operators import sampling
        df = spark.createDataFrame(
            [("g", i, v) for i, v in enumerate(vals)],
            "g string, id int, s int")
        got = {r["id"]: r for r in sampling.mad_outliers(
            df, "g", "s", k=k).collect()}
        med = statistics.median(vals)
        mad = statistics.median([abs(v - med) for v in vals])
        for i, v in enumerate(vals):
            if mad > 0:
                z = (v - med) / (1.4826 * mad)
                assert got[i]["robust_z"] == pytest.approx(z), (i, v)
                assert got[i]["is_outlier"] == (abs(z) > k)
            else:
                assert got[i]["robust_z"] is None
                assert got[i]["is_outlier"] == (v != med)


class TestUrlPartsTotalFunction:
    """r9-hardening property pin (r9 verdict task 6 extension): the URL
    column family must be TOTAL over arbitrary strings under ANSI mode —
    parse-or-NULL, never a runtime throw (the r8 ':8a' cast bug class) —
    and its outputs must stay mutually consistent."""

    _URLISH = "abchttps:/@[]#?&=%.0123456789-_ "

    @given(urls=st.lists(
        st.one_of(st.text(alphabet=_URLISH, max_size=50),
                  st.text(max_size=30)),
        min_size=1, max_size=40))
    @settings(max_examples=15, deadline=None)
    def test_parse_or_null_and_consistency(self, spark, urls):
        from pyspark.sql import functions as F

        from spark_expectations_spark.operators import text as T
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        p = T.url_parts(F.col("url"))
        rows = df.select(
            p.alias("p"),
            T.url_normalize(F.col("url")).alias("n"),
            T.registered_domain(p["host"]).alias("rd"),
        ).collect()                      # must not raise under ANSI
        for r in rows:
            if r["p"] is None:
                assert r["n"] is None and r["rd"] is None
                continue
            assert r["p"]["scheme"] == r["p"]["scheme"].lower()
            host = r["p"]["host"]
            assert host and host == host.lower()
            assert r["p"]["port"] is None or r["p"]["port"] >= 0
            if r["rd"] is not None:
                # registered domain is a dot-suffix of (or equals) host
                assert host == r["rd"] or host.endswith("." + r["rd"])
            if r["n"] is not None:
                assert r["n"].startswith(r["p"]["scheme"] + "://")


class TestLinkageDifferential:
    """The linkage joins vs brute force as the oracle: for arbitrary
    generated corpora the q-gram-blocked join (whose recall is provable
    when every string has > d*q grams) and the PPJoin set join (exact
    by construction) must return EXACTLY the brute-force pair sets."""

    _word = st.text(alphabet="abcde", min_size=4, max_size=9)

    @given(left=st.lists(_word, min_size=1, max_size=12),
           right=st.lists(_word, min_size=1, max_size=12))
    @settings(max_examples=10, deadline=None)
    def test_ngram_join_equals_bruteforce(self, spark, left, right):
        from spark_expectations_spark.operators import linkage

        def lev(a, b):
            if len(a) < len(b):
                a, b = b, a
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        d = 1
        L = spark.createDataFrame(list(enumerate(left)),
                                  "lid int, lk string")
        R = spark.createDataFrame(list(enumerate(right)),
                                  "rid int, rk string")
        got = {(r["lid"], r["rid"]): r["distance"]
               for r in linkage.blocked_fuzzy_join(
                   L, R, "lid", "lk", "rid", "rk",
                   max_distance=d, blockers=("ngram",),
                   ngram_q=3).collect()}
        # min word length 4 > d*q = 3 grams... strings of length m have
        # m-2 grams; length 4 -> 2 grams which is NOT > 3, so restrict
        # the guarantee check: strings with > 3 grams (len >= 6) on
        # both sides MUST be found; everything found must be correct.
        for (li, ri), dist in got.items():
            assert lev(left[li], right[ri]) == dist and dist <= d
        for li, a in enumerate(left):
            for ri, b in enumerate(right):
                if lev(a, b) <= d and len(a) >= 6 and len(b) >= 6:
                    assert (li, ri) in got, (a, b)

    @given(sets=st.lists(
        st.lists(st.sampled_from("pqrstuv"), min_size=0, max_size=6),
        min_size=2, max_size=10))
    @settings(max_examples=10, deadline=None)
    def test_set_join_equals_bruteforce(self, spark, sets):
        from spark_expectations_spark.operators import linkage
        t = 0.5
        rows = [(i, [f"t{c}" for c in s]) for i, s in enumerate(sets)]
        df = spark.createDataFrame(rows, "id int, s array<string>")
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in linkage.set_similarity_self_pairs(
                   df, "id", "s", threshold=t).collect()}
        py = {}
        for i, (ia, sa) in enumerate(rows):
            for ib, sb in rows[i + 1:]:
                A, B = set(sa), set(sb)
                if not A or not B:
                    continue
                j = len(A & B) / len(A | B)
                if j >= t:
                    py[(ia, ib)] = j
        assert set(got) == set(py)
        for k, v in got.items():
            assert abs(v - py[k]) < 1e-12


class TestKmeansDifferential:
    """lloyd_kmeans vs a transliterated pure-Python Lloyd's loop with
    the same deterministic contract (first-k-ids seeding, dist-then-cid
    argmin ties, emptied clusters keep their centroid, final pass
    measures against the final centroids)."""

    @staticmethod
    def _reference(rows, k, iterations):
        rows = sorted(rows)
        cents = [list(v) for _, v in rows[:k]]

        def d2(a, b):
            return sum((x - y) * (x - y) for x, y in zip(a, b))

        def assign(c):
            out = {}
            for rid, v in rows:
                best = min(range(len(c)), key=lambda j: (d2(v, c[j]), j))
                out[rid] = (best, d2(v, c[best]))
            return out

        for _ in range(iterations):
            a = assign(cents)
            for cid in range(len(cents)):
                mem = [v for (rid, v) in rows if a[rid][0] == cid]
                if mem:
                    cents[cid] = [sum(col) / len(mem)
                                  for col in zip(*mem)]
        fin = assign(cents)
        stats = {}
        for cid in range(len(cents)):
            mem = [dist for (c, dist) in fin.values() if c == cid]
            stats[cid] = (len(mem), sum(mem))
        return cents, stats

    @given(
        pts=st.lists(
            st.tuples(st.integers(0, 60),
                      st.tuples(st.integers(-8, 8), st.integers(-8, 8))),
            min_size=2, max_size=24, unique_by=lambda t: t[0]),
        k=st.integers(1, 4),
        iterations=st.integers(0, 3),
    )
    @settings(max_examples=10, deadline=None)
    def test_matches_pure_python_lloyd(self, spark, pts, k, iterations):
        from spark_expectations_spark.operators import similarity as sim
        rows = [(rid, [float(x), float(y)]) for rid, (x, y) in pts]
        k = min(k, len(rows))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        got = sim.lloyd_kmeans(df, k=k, iterations=iterations)
        cents = {}
        stats = {}
        for r in got.collect():
            cents.setdefault(r["centroid_id"], {})[r["pos"]] = r["coord"]
            stats[r["centroid_id"]] = (r["n_assigned"], r["wcss"])
        ref_cents, ref_stats = self._reference(
            [(rid, tuple(v)) for rid, v in rows], k, iterations)
        # integer-ish inputs keep the float math far from rounding
        # boundaries, so 4-digit coords and 3-digit wcss compare exact
        for cid, cv in enumerate(ref_cents):
            for pos, val in enumerate(cv):
                assert cents[cid][pos] == float(round(val, 4)) + 0.0, \
                    (cid, pos, cents[cid][pos], val)
        for cid, (n, w) in ref_stats.items():
            assert stats[cid][0] == n, (cid, stats, ref_stats)
            assert stats[cid][1] == float(round(w, 3)) + 0.0


class TestPavProperties:
    """Pool-Adjacent-Violators invariants (the driver-side core of
    text.isotonic_calibrate) under randomized inputs — the properties
    every correct isotonic fit must satisfy regardless of data."""

    pts = st.lists(
        st.tuples(st.integers(min_value=1, max_value=50),
                  st.floats(min_value=0.0, max_value=1.0,
                            allow_nan=False)),
        min_size=1, max_size=40)

    @given(points=pts)
    @settings(max_examples=200)
    def test_output_is_monotone_nondecreasing(self, points):
        from spark_expectations_spark.operators.text import _pav
        out = _pav(points)
        assert len(out) == len(points)
        assert all(a <= b + 1e-12 for a, b in zip(out, out[1:]))

    @given(points=pts)
    @settings(max_examples=200)
    def test_weighted_mean_preserved(self, points):
        from spark_expectations_spark.operators.text import _pav
        out = _pav(points)
        want = sum(w * y for w, y in points)
        got = sum(w * v for (w, _), v in zip(points, out))
        assert got == pytest.approx(want, abs=1e-9)

    @given(points=pts)
    @settings(max_examples=100)
    def test_idempotent(self, points):
        """PAV of an already-isotonic sequence is the identity, so
        applying the fit to its own output must change nothing."""
        from spark_expectations_spark.operators.text import _pav
        once = _pav(points)
        twice = _pav([(w, v) for (w, _), v in zip(points, once)])
        for a, b in zip(once, twice):
            assert a == pytest.approx(b, abs=1e-12)

    @given(points=pts)
    @settings(max_examples=100)
    def test_monotone_input_passes_through(self, points):
        from spark_expectations_spark.operators.text import _pav
        monotone = sorted(points, key=lambda p: p[1])
        out = _pav(monotone)
        for (_, y), v in zip(monotone, out):
            assert v == pytest.approx(y, abs=1e-12)


class TestConnectedComponentsProperty:
    """Star contraction vs a pure-python union-find, for arbitrary
    small graphs (self-loops and duplicate/bidirectional edges
    included) — the O(log n) algorithm must label every node with its
    component MINIMUM exactly like the naive oracle."""

    @given(edges=st.lists(st.tuples(st.integers(0, 25),
                                    st.integers(0, 25)),
                          min_size=1, max_size=40))
    @settings(max_examples=10, deadline=None)
    def test_matches_union_find(self, spark, edges):
        from spark_expectations_spark.operators import graph
        real = [(a, b) for a, b in edges if a != b]
        parent = {}  # stays empty for self-loops only: so does the result

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in real:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {n: find(n) for n in parent}
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["component"]
               for r in graph.connected_components(df).collect()}
        assert got == want


class TestSurvivalDifferential:
    """drift.survival_curve vs a pure-Python Kaplan-Meier reference on
    arbitrary (duration, event) samples — censoring patterns, repeated
    times, extinction included by generation."""

    @given(subjects=st.lists(
        st.tuples(st.integers(min_value=0, max_value=8),
                  st.integers(min_value=0, max_value=1)),
        min_size=1, max_size=25))
    @settings(max_examples=10, deadline=None)
    def test_matches_pure_python_km(self, spark, subjects):
        from spark_expectations_spark.operators import drift

        df = spark.createDataFrame(subjects, "duration int, event int")
        got = {r["t"]: r for r in drift.survival_curve(
            df, "duration", "event").collect()}

        times = sorted({t for t, _ in subjects})
        s, out = 1.0, {}
        for t in times:
            n = sum(1 for d, _ in subjects if d >= t)
            dth = sum(1 for d, e in subjects if d == t and e == 1)
            c = sum(1 for d, e in subjects if d == t and e == 0)
            s = 0.0 if dth == n else s * (1.0 - dth / n)
            out[t] = (n, dth, c, s)
        assert set(got) == set(out)
        for t, (n, dth, c, s) in out.items():
            r = got[t]
            assert (r["n_risk"], r["n_event"], r["n_censored"]) == (n, dth, c)
            assert r["survival"] == pytest.approx(s, abs=1e-9)


class TestTwaDifferential:
    """asof.time_weighted_mean vs a pure-Python zero-order-hold
    reference on arbitrary per-group samples with distinct timestamps."""

    @given(samples=st.lists(
        st.tuples(st.integers(min_value=0, max_value=2),     # group
                  st.integers(min_value=0, max_value=10**6),  # ts
                  st.floats(min_value=-100, max_value=100,
                            allow_nan=False, width=32)),
        min_size=1, max_size=30,
        unique_by=lambda r: (r[0], r[1])))
    @settings(max_examples=10, deadline=None)
    def test_matches_pure_python_hold(self, spark, samples):
        from spark_expectations_spark.operators import asof

        df = spark.createDataFrame(
            [(str(g), t, float(v)) for g, t, v in samples],
            "g string, ts long, v double")
        got = {r["g"]: r for r in asof.time_weighted_mean(
            df, "ts", "v", ("g",)).collect()}

        by_g = {}
        for g, t, v in samples:
            by_g.setdefault(str(g), []).append((t, float(v)))
        for g, rows in by_g.items():
            rows.sort()
            pairs = [(v, rows[i + 1][0] - t)
                     for i, (t, v) in enumerate(rows[:-1])]
            if not pairs:
                assert g not in got
                continue
            span = sum(dt for _, dt in pairs)
            twa = sum(v * dt for v, dt in pairs) / span
            r = got[g]
            assert r["n_intervals"] == len(pairs)
            assert r["span_ns"] == span
            assert r["twa"] == pytest.approx(twa, rel=1e-9)


class TestCusumDifferential:
    """drift.cusum_change_point vs a pure-Python scan on arbitrary
    bucket series (>= 2 buckets so a split exists)."""

    @given(series=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False,
                  width=32),
        min_size=2, max_size=20))
    @settings(max_examples=10, deadline=None)
    def test_matches_pure_python_scan(self, spark, series):
        from spark_expectations_spark.operators import drift

        xs = [float(v) for v in series]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(xs)], "b int, v double")
        r = drift.cusum_change_point(df, "b", "v").first()

        n = len(xs)
        xbar = sum(xs) / n
        ts = {}
        run = 0.0
        for k in range(1, n):
            run += xs[k - 1]
            # bucket ids are 0-based here
            ts[k - 1] = abs(run - k * xbar) * (n / (k * (n - k))) ** 0.5
        tbest = max(ts.values())
        assert r["n_buckets"] == n
        # argmax is only well-defined up to float noise: an exact
        # mathematical tie (hypothesis found [0.0, 1.0, 0.0] — both
        # splits give t = √1.5/3) rounds differently per candidate, so
        # the engine's exact-double argmax may legally land on either
        # side. Require the CHOSEN bucket to be a near-max; require
        # the exact bucket only when the max is unique beyond noise.
        assert ts[r["change_at"]] == pytest.approx(tbest, abs=1e-9)
        contenders = [b for b, t in ts.items() if t > tbest - 1e-9]
        if len(contenders) == 1:
            assert r["change_at"] == contenders[0]
        assert r["tmax"] == pytest.approx(tbest, abs=1e-9)
