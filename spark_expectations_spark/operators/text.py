"""Text-analysis operators for training-data pipelines.

Net-new relative to the reference. All pure Column expressions (regex,
higher-order functions) — zero Python UDFs, so they run inside
WholeStageCodegen and scale linearly with no shuffle (per-row transforms).
Each returns a DataFrame transform usable standalone or as generated
row_dq rules (e.g. quality_score >= 0.5 as a drop rule).
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _word_ngrams

# Default per-language stopword marker lists for the n-gram/stopword
# language heuristic. Deliberately tiny: language ID at scale is a
# frequency heuristic, not a model.
DEFAULT_LANG_MARKERS: Mapping[str, Sequence[str]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "个"),
}


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.trim(F.lower(text)), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND punctuation and
    counts ~4-char chunks of long words — a cheap, deterministic stand-in
    for BPE vocab tokenization (≈ tokens a BPE tokenizer would emit)."""
    words = F.filter(
        F.split(F.lower(text), r"[^\p{L}\p{N}]+"), lambda t: t != ""
    )
    per_word = F.transform(
        words, lambda w: F.ceil(F.length(w) / F.lit(4.0)).cast("long")
    )
    return F.aggregate(per_word, F.lit(0).cast("long"), lambda a, v: a + v)


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are neither letter, digit, nor space."""
    stripped = F.regexp_replace(text, r"[\p{L}\p{N}\s]", "")
    return F.when(F.length(text) > 0,
                  F.length(stripped) / F.length(text)).otherwise(F.lit(0.0))


def upper_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{Lu}]", "")
    return F.when(F.length(text) > 0,
                  F.length(stripped) / F.length(text)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: Sequence[str]) -> Column:
    toks = _tokens(text)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    toks = _tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0), lambda a, v: a + v,
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(
    text: Column,
    *,
    stopwords: Sequence[str] = DEFAULT_LANG_MARKERS["en"],
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    ideal_mean_word_len: tuple[float, float] = (3.0, 10.0),
) -> Column:
    """Heuristic document quality in [0, 1]: mean of four bounded signals
    (length, punctuation, word shape, stopword presence) — the standard
    Gopher/C4-style filters expressed as one Column."""
    n_tok = token_count(text)
    len_sig = F.least(n_tok / F.lit(float(min_tokens)), F.lit(1.0))
    punct_sig = F.when(punct_ratio(text) <= max_punct_ratio, 1.0).otherwise(0.0)
    mwl = mean_word_length(text)
    lo, hi = ideal_mean_word_len
    shape_sig = F.when((mwl >= lo) & (mwl <= hi), 1.0).otherwise(0.0)
    sw_sig = F.least(stopword_ratio(text, stopwords) * 5.0, F.lit(1.0))
    return (len_sig + punct_sig + shape_sig + sw_sig) / 4.0


def language_id(
    text: Column,
    markers: Mapping[str, Sequence[str]] = DEFAULT_LANG_MARKERS,
    *,
    default: str = "und",
) -> Column:
    """Marker-word language heuristic: the language with the most marker
    tokens wins; ties break lexicographically; no hits → ``default``.

    Evaluated as a chain of greatest/when expressions — one pass, no UDF.
    """
    toks = _tokens(text)
    scores: dict[str, Column] = {}
    for lang in sorted(markers):
        words = markers[lang]
        arr = F.array(*[F.lit(w) for w in words])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    best = F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    result = F.lit(default)
    for lang in sorted(markers, reverse=True):
        result = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)) \
                  .otherwise(result)
    return result


def fingerprint(text: Column) -> Column:
    """Normalization fingerprint: md5 of lower-cased, whitespace-collapsed,
    punctuation-stripped text. Equal fingerprints == near-identical docs
    (the classic 'fingerprint clustering' key)."""
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(text), r"[^\p{L}\p{N}\s]", ""), r"\s+", " "))
    return F.md5(norm)


def line_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Within-document line-level quality stats — the FineWeb/Gopher
    line-filter family (distinct from :func:`strip_common_lines`, which
    is CROSS-document): per doc, the duplicate-line fraction (Gopher
    repetition), the fraction of lines ending in terminal punctuation
    (FineWeb keeps prose, drops nav/menu soup), the bullet-line
    fraction, and the mean line length. Zero shuffle — one split +
    higher-order-function projection folded into the scan; a doc with
    no newlines is one line.

    Returns (id, n_lines, dup_line_frac, terminal_punct_frac,
    bullet_frac, mean_line_len).
    """
    # \r?\n: CRLF documents must not keep a trailing \r on every line
    # (it would defeat dup-line detection, pad mean_line_len, and
    # diverge from the oracle's RE2 '$' semantics on terminal punct)
    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\r?\n"), lambda l: F.trim(l)),
        lambda l: l != "")
    n = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    terminal = F.size(F.filter(
        lines, lambda l: l.rlike(r"[.!?。！？][\"')\]]*$")))
    bullet = F.size(F.filter(
        lines, lambda l: l.rlike(r"^([-*•]|\d+[.)])\s")))
    total_len = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, l: a + F.length(l))
    safe_n = F.when(n > 0, n)
    return df.select(
        F.col(id_col),
        n.alias("n_lines"),
        F.round((n - n_distinct) / safe_n, 4).alias("dup_line_frac"),
        F.round(terminal / safe_n, 4).alias("terminal_punct_frac"),
        F.round(bullet / safe_n, 4).alias("bullet_frac"),
        F.round(total_len / safe_n, 4).alias("mean_line_len"),
    )


def token_set_fingerprint(text: Column) -> Column:
    """md5 of the sorted distinct token set (bag-of-words fingerprint):
    documents that differ only in token order or repetition collide —
    a coarser duplicate key than :func:`fingerprint` for template/
    shuffle-style mirrors."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens(text)))))


def rolling_hash_fingerprint(text: Column, *, window: int = 8, keep_every: int = 16) -> Column:
    """Winnowing-style document sketch: xxhash64 of each ``window``-token
    shingle, keep hashes ≡ 0 (mod keep_every), sorted — a compact
    array<bigint> signature for containment checks."""
    toks = _tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - window, F.lit(0)))
    hashes = F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, window))))
    kept = F.filter(hashes, lambda h: F.pmod(h, F.lit(keep_every)) == 0)
    return F.array_sort(F.array_distinct(kept))


def dup_word_frac(text: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token
    (1 − distinct/total) — the cheapest Gopher-style repetition signal.
    Linear per row (array_distinct), stays in codegen, zero shuffle."""
    toks = _tokens(text)
    n = F.size(toks)
    return F.when(n > 0, 1.0 - F.size(F.array_distinct(toks)) / n).otherwise(F.lit(0.0))


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition filters per document: duplicate-word
    fraction and top-word share (most frequent token's share of all
    tokens).

    Explode → two keyed aggregations, both partial-agg'd and keyed by
    ``id_col`` — the scalable path for long documents. (A pure-Column
    ``transform(distinct, w -> count)`` version is O(unique×len) per row:
    fine for tweets, quadratic death for 10k-word documents — so the
    exploded form is the default.) Rows with zero tokens are dropped,
    matching the SQL-unnest semantics.
    """
    toks = df.select(F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("_w"))
    freq = toks.groupBy(id_col, "_w").agg(F.count(F.lit(1)).alias("_c"))
    return (
        freq.groupBy(id_col)
        .agg(
            F.round(1.0 - F.count(F.lit(1)) / F.sum("_c"), 4).alias("dup_word_frac"),
            F.round(F.max("_c") / F.sum("_c"), 4).alias("top_word_share"),
        )
    )


# PII patterns kept deliberately simple + identical semantics under Java
# regex (Spark) and RE2 (DuckDB): no lookarounds, no backrefs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d[\d-]{7,}\d"
#: dotted-quad with 1-3 digit octets; over-matches out-of-range octets
#: (256.1.1.1) by design — redaction favors recall, and range checks
#: need lookarounds RE2 lacks
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
#: 13-19 digits with optional space/dash group separators — the payment
#: card SHAPE (Luhn validation is not expressible in a regex; recall
#: over precision, like IPV4_RE). Ordered before PHONE_RE in
#: DEFAULT_PII_PATTERNS so grouped card numbers don't half-match as
#: phones
CARD_RE = r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{1,7}\b"
#: redaction order matters: emails first (their digits must not
#: half-match phones), cards before phones (same reason), IPs before
#: phones (dotted quads contain digit runs)
DEFAULT_PII_PATTERNS: Sequence[str] = (EMAIL_RE, IPV4_RE, CARD_RE,
                                       PHONE_RE)


def pii_count(
    text: Column, *,
    patterns: Sequence[str] = DEFAULT_PII_PATTERNS,
) -> Column:
    """Number of PII-looking spans (emails, IPv4 addresses, payment-card
    shapes, phone numbers by default). Counts overlap when one span
    matches several patterns — use :func:`redact_pii`'s output for
    exact remaining-PII audits."""
    out = F.lit(0)
    for p in patterns:
        out = out + F.regexp_count(text, F.lit(p))
    return out


def redact_pii(
    text: Column,
    *,
    patterns: Sequence[str] = DEFAULT_PII_PATTERNS,
    replacement: str = "[PII]",
) -> Column:
    """Mask PII-looking spans. Chained regexp_replace — one projection,
    no UDF; DEFAULT_PII_PATTERNS is ordered so earlier redactions can't
    leave half-matches for later patterns (emails before phones, cards
    and IPs before phones)."""
    out = text
    for p in patterns:
        out = F.regexp_replace(out, p, replacement)
    return out


#: control characters EXCEPT tab/newline/carriage-return — those three
#: carry document structure and are handled by the whitespace rules
_CONTROL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def normalize_text(
    text: Column,
    *,
    strip_control: bool = True,
    collapse_spaces: bool = True,
    max_blank_lines: int = 1,
    trim: bool = True,
    lowercase: bool = False,
) -> Column:
    """Canonicalize raw text before fingerprinting / dedup — the step
    every web-scale pipeline runs first so that cosmetic whitespace or
    case differences don't defeat exact and near dedup downstream.

    A chain of ``regexp_replace`` calls in ONE projection: pure
    whole-stage codegen, zero shuffle, no UDF — at 100 TB this runs at
    scan speed. Every pattern uses only syntax with identical semantics
    in Java regex and RE2, so the op is DuckDB-oracle-checkable
    byte-for-byte.

    Steps (each independently switchable, applied in this order):

    * ``strip_control`` — delete C0 control chars + DEL, keeping tab /
      newline / CR (structure-bearing; CRLF is folded to LF first so
      Windows text normalizes identically).
    * ``collapse_spaces`` — runs of spaces/tabs become ONE space, and
      trailing spaces before a newline are dropped.
    * ``max_blank_lines`` — runs of newlines are capped so at most this
      many BLANK lines survive between paragraphs (0 = no blank lines;
      negative disables the rule).
    * ``trim`` — strip leading/trailing SPACES (tabs/newlines at the
      edges have already been folded to spaces / capped by the earlier
      rules when those are enabled; same semantics as SQL ``trim`` in
      both engines).
    * ``lowercase`` — case-fold last (off by default: case is signal
      for quality scoring even when dedup wants it folded).

    Unicode NFC normalization is deliberately out of scope: Spark SQL
    has no built-in normalizer, and a Python UDF here would put the
    slowest possible path in front of every scan. NULL in → NULL out.
    """
    out = text
    if strip_control:
        out = F.regexp_replace(out, r"\r\n", "\n")
        out = F.regexp_replace(out, _CONTROL_RE, "")
        out = F.regexp_replace(out, r"\r", "\n")
    if collapse_spaces:
        out = F.regexp_replace(out, r"[ \t]+", " ")
        out = F.regexp_replace(out, r" +\n", "\n")
    if max_blank_lines >= 0:
        keep = max_blank_lines + 1
        out = F.regexp_replace(
            out, r"\n{" + str(keep) + r",}", "\n" * keep)
    if trim:
        out = F.trim(out)
    if lowercase:
        out = F.lower(out)
    return out


def profile(
    df: DataFrame,
    text_col: str,
    *,
    stopwords: Sequence[str] = DEFAULT_LANG_MARKERS["en"],
    markers: Mapping[str, Sequence[str]] = DEFAULT_LANG_MARKERS,
) -> DataFrame:
    """Append the standard text-analysis columns in one projection."""
    t = F.col(text_col)
    return df.select(
        "*",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        char_count(t).alias("n_chars_computed"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t, stopwords), 6).alias("stopword_ratio"),
        F.round(mean_word_length(t), 6).alias("mean_word_len"),
        F.round(quality_score(t, stopwords=stopwords), 6).alias("quality_score"),
        language_id(t, markers).alias("lang_detected"),
        fingerprint(t).alias("fingerprint"),
    )


def vocab_divergence(
    base: DataFrame,
    cur: DataFrame,
    text_col: str,
    *,
    alpha: float = 0.5,
) -> DataFrame:
    """Token-distribution divergence between two corpora — the
    TOKEN-level domain-shift signal the value-histogram drift family
    (PSI/KS/JSD over numeric columns) cannot see: a new crawl slice
    can keep every length/score distribution flat while its vocabulary
    walks away from the reference corpus. One row:

    - ``n_base`` / ``n_cur`` — token totals per side,
    - ``v_union`` — union vocabulary size, ``new_types`` — types in
      ``cur`` never seen in ``base``,
    - ``oov_rate`` — fraction of ``cur`` TOKEN MASS on those unseen
      types (the dataloader's actual OOV exposure, not a type count),
    - ``kl_base_cur`` / ``kl_cur_base`` — smoothed unigram KL in nats,
      both directions (KL is asymmetric; a spike in either direction
      is a different failure: base→cur = cur under-covers base mass,
      cur→base = cur concentrates novel mass).

    Probabilities are additively smoothed over the UNION vocabulary
    (``p = (c + alpha) / (N + alpha·V)``), so both KLs are finite and
    every term is a pure function of exact integer counts — the whole
    report value-oracles at 6dp.

    Scale shape: one map-side-combined token count per side, one
    token-keyed full-outer join, the 1-row totals fold broadcast back,
    one final vocab-sized agg. Intermediates are vocab-sized, never
    corpus-sized; no window.
    """
    return vocab_divergence_from_counts(
        token_counts(base, text_col, "cb"),
        token_counts(cur, text_col, "cc"), alpha=alpha)


def token_counts(df: DataFrame, text_col: str,
                 out: str = "c") -> DataFrame:
    """(tok, count) table over a corpus — one map-side-combined
    groupBy; the shared count side of :func:`vocab_divergence` and the
    streaming vocabulary state."""
    return (df.select(F.explode(_tokens(F.col(text_col))).alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias(out)))


def vocab_growth_curve(
    df: DataFrame,
    order_col: str,
    text_col: str,
    checkpoints: Sequence,
) -> DataFrame:
    """Heaps-law vocabulary growth audit: distinct-type and total-token
    counts over growing corpus PREFIXES (documents ordered by
    ``order_col``, cut at each checkpoint) — the diversity signal that
    says whether more data is still buying new vocabulary or the
    corpus has started repeating itself (a flat curve at the tail is a
    dedup/contamination smell; Heaps' law predicts V ≈ K·nᵝ, β≈0.5-0.7
    for natural text). Returns one row per checkpoint:

        (checkpoint, n_docs, n_tokens, vocab, type_token_ratio)

    all CUMULATIVE over docs with ``order_col <= checkpoint``; every
    value is an exact integer (or int/int ratio), so the curve is
    value-oracle-able.

    Scale shape: no per-prefix rescans — each token type collapses to
    its FIRST document (one explode + min groupBy), first-seen orders
    fold into checkpoint buckets (literal-array fold, pure codegen),
    and the cumulative counts are a checkpoint-cardinality window.
    Corpus tokens shuffle once, keyed by type.

    Duplicate checkpoints collapse to one output row (a grid like
    ``max(1, n*i//5)`` collides at small n; the prefix they name is
    the same prefix, so the row would be an exact duplicate)."""
    cps = sorted(set(checkpoints))
    if not cps:
        raise ValueError("need at least one checkpoint")
    arr = F.array(*[F.lit(c) for c in cps])
    # bucket index = number of checkpoints STRICTLY below the value →
    # a doc/type at order o belongs to every checkpoint >= o, i.e. its
    # first bucket is the smallest checkpoint >= o
    bucket = F.aggregate(
        arr, F.lit(0),
        lambda acc, c: acc + F.when(F.col("_o") > c, 1).otherwise(0))
    toks = (df.select(F.col(order_col).alias("_d"),
                      F.explode(_tokens(F.col(text_col))).alias("tok")))
    first = toks.groupBy("tok").agg(F.min("_d").alias("_o"))
    w = (Window.orderBy("_b")
         .rowsBetween(Window.unboundedPreceding, 0))
    vocab_by_b = (first.filter(bucket < len(cps))
                  .groupBy(bucket.alias("_b"))
                  .agg(F.count(F.lit(1)).alias("_v")))
    docs_by_b = (df.select(F.col(order_col).alias("_o"),
                           token_count(F.col(text_col)).alias("_nt"))
                 .filter(bucket < len(cps))
                 .groupBy(bucket.alias("_b"))
                 .agg(F.count(F.lit(1)).alias("_nd"),
                      F.sum("_nt").alias("_t")))
    grid = F.explode(F.array(*[
        F.struct(F.lit(i).alias("_b"), F.lit(c).alias("checkpoint"))
        for i, c in enumerate(cps)])).alias("g")
    base = (df.sparkSession.range(1).select(grid).select("g.*")
            .join(vocab_by_b, "_b", "left")
            .join(docs_by_b, "_b", "left"))
    return (base
            .withColumn("n_docs", F.sum(F.coalesce("_nd", F.lit(0))).over(w))
            .withColumn("n_tokens", F.sum(F.coalesce("_t", F.lit(0))).over(w))
            .withColumn("vocab", F.sum(F.coalesce("_v", F.lit(0))).over(w))
            .select("checkpoint", "n_docs", "n_tokens", "vocab",
                    F.when(F.col("n_tokens") > 0,
                           F.col("vocab") / F.col("n_tokens"))
                    .alias("type_token_ratio")))


def vocab_divergence_from_counts(
    base_counts: DataFrame,
    cur_counts: DataFrame,
    *,
    alpha: float = 0.5,
) -> DataFrame:
    """The counts-level core of :func:`vocab_divergence`: takes two
    ``(tok, cb)`` / ``(tok, cc)`` tables (from :func:`token_counts`,
    or a persisted/merged streaming vocabulary state) and emits the
    same one-row report — so yesterday's counts diverge against
    today's without re-tokenizing yesterday.

    Degenerate inputs (defined, not accidental): a side with ZERO
    total tokens still smooths to a valid distribution (uniform over
    the union vocab), so both KL columns stay finite; ``oov_rate`` is
    deliberately NULL when the current side is empty (an OOV *rate*
    over zero tokens has no value — the explicit ``when`` guard below)
    and ``new_types`` counts union-vocab types as usual. When BOTH
    count tables are empty the report is an EMPTY frame (no vocab, no
    row) rather than a row of NULLs — callers joining the report
    should treat no-row as "nothing to compare", the same contract as
    an empty drift report."""
    if alpha <= 0.0:
        raise ValueError("alpha must be > 0 (smoothing keeps KL finite)")
    j = (base_counts.join(cur_counts, "tok", "full_outer")
         .select(F.coalesce("cb", F.lit(0)).alias("cb"),
                 F.coalesce("cc", F.lit(0)).alias("cc")))
    tot = j.agg(F.sum("cb").alias("nb"), F.sum("cc").alias("nc"),
                F.count(F.lit(1)).alias("v"))
    a = F.lit(float(alpha))
    p = (F.col("cb") + a) / (F.col("nb") + a * F.col("v"))
    q = (F.col("cc") + a) / (F.col("nc") + a * F.col("v"))
    return (j.crossJoin(F.broadcast(tot))
            .groupBy("nb", "nc", "v")
            .agg(F.sum(F.when(F.col("cb") == 0, 1).otherwise(0))
                 .alias("new_types"),
                 F.sum(F.when(F.col("cb") == 0, F.col("cc"))
                       .otherwise(0)).alias("_oovc"),
                 F.sum(p * F.log(p / q)).alias("_kl_bc"),
                 F.sum(q * F.log(q / p)).alias("_kl_cb"))
            .select(F.col("nb").alias("n_base"),
                    F.col("nc").alias("n_cur"),
                    F.col("v").alias("v_union"), "new_types",
                    F.when(F.col("nc") > 0,
                           F.round(F.col("_oovc") / F.col("nc"), 6))
                    .alias("oov_rate"),
                    F.round("_kl_bc", 6).alias("kl_base_cur"),
                    F.round("_kl_cb", 6).alias("kl_cur_base")))


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    smoothing: float = 0.5,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the cheap stand-in for CCNet-style LM-perplexity
    filtering: documents whose tokens are globally rare (gibberish,
    boilerplate soup, wrong-language) score low; fluent common prose
    scores high.

    Two aggregations: (1) corpus token counts (the unigram model — its
    size is the vocabulary, not the corpus; map-side combine does the
    heavy lifting), (2) per-doc mean of log((count+s)/(total+s·V)) via an
    explode + join keyed on the token. At 100 TB the vocab side is
    usually broadcastable after a min-count cut; here it stays a plain
    equi-join so AQE decides. Add-``smoothing`` keeps unseen-at-join
    impossible (every token is in the model by construction).

    Returns (id, n_tokens, avg_logprob).

    Tokenization note: this scorer (and :func:`dsir_log_weights` /
    :func:`term_weights`) uses ``dedup.tokens_col``, which does NOT
    filter empty tokens — an all-whitespace document contributes one
    ``''`` token and still gets a score. Deliberate: the unfiltered
    split keeps the DuckDB oracle a plain ``unnest(string_split(...))``
    twin. ``profile``/``quality_score`` use the filtered ``_tokens``
    and report such a document as 0 tokens — don't cross-compare the
    two token counts.
    """
    from .dedup import tokens_col
    from ..plans import fan_out

    toks = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("tok"))
    toks = toks.persist()
    model = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_c"))
    totals = model.agg(F.sum("_c").alias("_n"),
                       F.count(F.lit(1)).alias("_v"))
    scored = (
        toks.join(model, "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.log((F.col("_c") + F.lit(smoothing))
                  / (F.col("_n") + F.lit(smoothing) * F.col("_v")))
            .alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("_lp").alias("avg_logprob"),
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    smoothing: float = 0.5,
    interp: float = 0.7,
) -> DataFrame:
    """Per-document mean interpolated-bigram log-probability under the
    corpus's own LM — one order up from :func:`unigram_logprob` and a
    sharper CCNet-style fluency proxy: word-order soup that unigram
    scoring can't see (right words, wrong order) scores low here.

    P(w2|w1) = interp·(c12+s)/(c1+s·V) + (1−interp)·(c2+s)/(N+s·V),
    averaged as ln P over the doc's bigram positions. Docs with < 2
    tokens return n_bigrams = 0 and a NULL score.

    Scale shape: like the unigram scorer — the models are ONE bigram
    and ONE unigram map-combined count each (vocabulary-sized, not
    corpus-sized); scoring is an explode + three token-keyed joins of
    vocab-sized sides + one per-doc agg, totals broadcast as a 1-row
    frame.
    """
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    # MEMORY_AND_DISK like the shingle index in dedup: the exploded
    # pair frame feeds both the model build and the scoring join, and
    # eviction can spill it rather than OOM; released with the session
    # (or spark.catalog.clearCache()) like the module's other caches
    from pyspark.storagelevel import StorageLevel
    doc_pairs = (df.select(F.col(id_col), F.explode(pairs).alias("p"))
                 .select(id_col, "p.w1", "p.w2")
                 .persist(StorageLevel.MEMORY_AND_DISK))
    big = doc_pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (df.select(F.explode(_tokens(F.col(text_col))).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    totals = uni.agg(F.sum("c").alias("n_tok"), F.count(F.lit(1)).alias("v"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    s = F.lit(smoothing)
    lam = F.lit(interp)
    scored = (
        doc_pairs.join(big, ["w1", "w2"]).join(u1, "w1").join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.log(lam * (F.col("c12") + s) / (F.col("c1") + s * F.col("v"))
                  + (F.lit(1.0) - lam) * (F.col("c2") + s)
                  / (F.col("n_tok") + s * F.col("v"))).alias("_lp"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("_lp").alias("avg_logprob"))
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    F.col("avg_logprob")))


def term_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    scheme: str = "tfidf",
    min_df: int = 1,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-(document, term) relevance weights over the corpus's own
    vocabulary — TF-IDF (sklearn-style smooth idf: ``ln((N+1)/(df+1))+1``)
    or BM25 (Robertson k1/b with corpus average length). The static-index
    half of retrieval-based data curation: near-dup clustering by top
    terms, topic-balanced sampling, query-relevance filtering.

    Scale shape (all map-combined aggregations + one vocab-keyed join):
    (doc, term, tf) from one explode+groupBy; document frequency from one
    groupBy over that frame (output is vocabulary-sized, NOT corpus-
    sized); corpus totals ride a 1-row broadcast. ``min_df`` cuts the
    hapax tail before the join — at 100 TB that's what makes the df side
    broadcastable. No UDFs anywhere.

    Returns (id, term, tf, weight).
    """
    from pyspark.storagelevel import StorageLevel

    from ..plans import fan_out
    from .dedup import tokens_col

    if scheme not in ("tfidf", "bm25"):
        # validate BEFORE building the plan: the late branch raise
        # left a marked-but-never-computed persist behind (r16)
        raise ValueError(f"unknown scheme {scheme!r}")
    toks = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("term"))
    # (doc, term, tf) feeds THREE subtrees (document frequency, corpus
    # totals, the weight join) and the planner does not reuse the
    # exchange across them — without a persist the tokenize+explode+
    # groupBy runs three times. The frame is corpus-term-sized but
    # fixed-width and disk-spillable; one materialization wins at any
    # scale where tokenization dominates (always).
    tf = (toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    dfreq = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
             .filter(F.col("_df") >= min_df))
    totals = tf.agg(
        F.count_distinct(F.col(id_col)).alias("_n_docs"),
        (F.sum("tf") / F.count_distinct(F.col(id_col))).alias("_avgdl"))
    idf = F.log((F.col("_n_docs") + 1) / (F.col("_df") + 1)) + F.lit(1.0)
    if scheme == "bm25":
        # document length includes min_df-cut terms — compute on the
        # pre-filter frame (reuses the (doc, term) partitioning)
        tf = tf.withColumn("_dl", F.sum("tf").over(Window.partitionBy(id_col)))
    joined = tf.join(dfreq, "term").crossJoin(F.broadcast(totals))
    if scheme == "tfidf":
        weight = F.col("tf") * idf
    elif scheme == "bm25":
        norm = F.lit(k1) * (F.lit(1 - b)
                            + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
        weight = idf * (F.col("tf") * F.lit(k1 + 1)) / (F.col("tf") + norm)
    else:
        raise ValueError(f"unknown scheme {scheme!r}")
    return joined.select(F.col(id_col), "term", "tf", weight.alias("weight"))


def top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    top_k: int = 3,
    scheme: str = "tfidf",
    min_df: int = 1,
) -> DataFrame:
    """Top-``top_k`` terms per document by :func:`term_weights` score
    (ties broken by term asc — deterministic across engines). One extra
    doc-keyed window over the weights frame."""
    w = Window.partitionBy(id_col).orderBy(
        F.col("weight").desc(), F.col("term").asc())
    return (
        term_weights(df, id_col, text_col, scheme=scheme, min_df=min_df)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    *,
    dim: int = 1 << 18,
    bias: float = 0.0,
    normalize: bool = True,
    out_col: str = "score",
) -> DataFrame:
    """Linear-classifier document scoring over hashed bag-of-words
    features — the fasttext-style "model-based quality filter" of
    GPT-3/LLaMA-class pipelines, expressed as pure DataFrame ops.
    ``weights`` is the trained model: (bucket int, weight double) with
    ``bucket`` = ``hash48_md5(token) % dim`` (the md5-derived 48-bit
    hash, portable across engines). Emits the input rows plus
    ``out_col`` = sigmoid(bias + Σ w[bucket(tok)] / n_tokens) (mean
    pooling when ``normalize``, sum otherwise). Empty docs score
    sigmoid(bias).

    Scale shape: inference is one explode + a bucket-keyed join against
    the model + one id-keyed groupBy. The model frame is at most
    ``dim`` rows — model-sized, never corpus-sized — so the join is
    AQE-broadcast and the corpus side streams; unseen buckets coalesce
    to 0. No UDF, no driver-side model object: the same weights table
    serves any number of scoring runs.
    """
    from .dedup import hash48_md5

    toks = df.select(
        F.col(id_col),
        F.explode_outer(_tokens(F.col(text_col))).alias("_tok"))
    bucketed = toks.withColumn(
        "bucket", (hash48_md5(F.col("_tok")) % F.lit(dim)).cast("int"))
    w = weights.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("weight").cast("double").alias("_w"))
    scored = (
        bucketed.join(w, "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("_tok").isNotNull(),
                         F.coalesce(F.col("_w"), F.lit(0.0)))).alias("_s"),
            F.count(F.col("_tok")).alias("_n"),
        )
    )
    logit = F.lit(bias) + F.when(
        F.col("_n") > 0,
        F.coalesce(F.col("_s"), F.lit(0.0))
        / (F.col("_n") if normalize else F.lit(1)),
    ).otherwise(F.lit(0.0))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return df.join(
        scored.select(F.col(id_col), score.alias(out_col)), id_col)


#: Hard cap on ``dim`` for :func:`logistic_train` — the per-iteration
#: weight vector is embedded in the plan as a literal array (the
#: lloyd_kmeans broadcast-codebook device), so the plan grows O(dim).
#: 2^16 doubles ≈ 512 KiB of literals per iteration; past that use
#: :func:`logistic_train_distributed`, whose model state lives in a
#: bucket-keyed DataFrame (joins/aggregations only — unbounded dim at
#: the cost of doc-keyed shuffles per step).
LOGISTIC_TRAIN_MAX_DIM = 1 << 16


def logistic_train(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    *,
    dim: int = 1 << 10,
    iterations: int = 3,
    lr: float = 0.5,
    normalize: bool = True,
    init: Optional[DataFrame] = None,
    l2: float = 0.0,
) -> DataFrame:
    """Train the quality-filter classifier IN-ENGINE — deterministic
    full-batch logistic regression over the same hashed bag-of-words
    features :func:`hashed_linear_score` consumes at inference time.
    Production filter pipelines (fastText-style quality classifiers of
    the GPT-3/LLaMA lineage, FineWeb-Edu, DCLM) train these weights
    in-pipeline; until now ``hashed_linear_score`` required them to
    come from outside the engine.

    Deterministic by construction, no RNG: zero-init weights and bias
    (the log-loss objective is convex, so init only affects the path,
    and zero-init makes step 1's predictions exactly 0.5), a FIXED
    ``iterations`` count of full-batch gradient steps at a FIXED
    learning rate ``lr``, features ``x_j = count_j / n_tokens`` (mean
    pooling when ``normalize``, raw counts otherwise) with ``j =
    hash48_md5(token) % dim`` — the md5-derived portable bucket, so a
    SQL engine replays the whole training loop. Token-free documents
    carry no feature evidence and are excluded from the training set
    (they would only shift the bias toward the base rate).

    Returns a ``dim``-row model frame ``(bucket, weight, bias,
    n_train, losses)``: final weights one row per bucket (buckets no
    token hashed into keep weight 0.0 — their gradient is identically
    zero), with the shared scalars repeated per row — ``bias``,
    ``n_train`` (training-set size), and ``losses``, the mean log-loss
    measured at the START of each step (losses[0] is always ln 2 under
    zero-init; a shrinking tail is the convergence evidence).
    ``fit.select("bucket", "weight")`` feeds straight into
    :func:`hashed_linear_score` (pass ``bias=`` from any row).

    ``init`` WARM-STARTS the loop from a previous fit (the trainer's
    own output frame, or any ``(bucket, weight[, bias])`` table —
    persisted yesterday, reloaded today): full-batch gradient descent
    is Markov in (weights, bias), so on the SAME corpus
    ``train(n+m)`` equals ``train(n)`` continued ``m`` more steps
    weight for weight (pinned by test), and on an evolved corpus the
    warm start is day-2 incremental retraining without replaying
    history. Missing buckets init to 0; the collect is dims-scale.

    Scale shape (100 TB): the corpus is featurized ONCE — explode +
    (id, bucket)-keyed count + id-keyed sorted collect into per-doc
    sparse arrays — then ``localCheckpoint`` cuts lineage before the
    loop (the pagerank edge-list discipline). Each step is ONE job: the
    current weights ride the plan as a literal array (model-scale, see
    :data:`LOGISTIC_TRAIN_MAX_DIM`), the margin/residual/log-loss are
    per-row ``aggregate`` folds over the sparse arrays (map-only, no
    shuffle), and per-bucket gradient sums, the bias gradient, and the
    loss fold into ONE map-side-combined groupBy by tagging each doc's
    exploded feature rows with two sentinel rows (bucket −1 = loss
    term, −2 = residual) — a (dim+2)-row collect, never corpus rows.
    Driver state is the dim-vector and two scalars, exactly the
    lloyd_kmeans k×dim discipline.
    """
    if dim < 1 or dim > LOGISTIC_TRAIN_MAX_DIM:
        raise ValueError(
            f"dim must be in [1, {LOGISTIC_TRAIN_MAX_DIM}] (literal-array "
            f"weight embedding — see LOGISTIC_TRAIN_MAX_DIM); got {dim}")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    spark = df.sparkSession
    w0, b0 = None, 0.0
    if init is not None:
        rows0 = init.select("bucket", "weight").collect()
        bad = [r for r in rows0 if not 0 <= r["bucket"] < dim]
        if bad:
            raise ValueError(
                f"init bucket {bad[0]['bucket']} outside [0, {dim}) — "
                f"the init fit used a different dim")
        w0 = [0.0] * dim
        for r in rows0:
            w0[r["bucket"]] = float(r["weight"])
        if "bias" in init.columns:
            b0 = float(init.select("bias").first()["bias"])
    feats = _logistic_featurize(df, id_col, text_col, label_col,
                                dim=dim).localCheckpoint(eager=False)
    n_train = feats.count()
    if n_train == 0:
        raise ValueError("logistic_train: no documents with tokens")
    w, bias, losses = _logistic_fit(feats, n_train, dim=dim,
                                    iterations=iterations, lr=lr,
                                    normalize=normalize,
                                    init_w=w0, init_bias=b0, l2=l2)

    rows = [(j, float(w[j])) for j in range(dim)]
    from ..plans import local_frame
    out = local_frame(spark, rows, "bucket int, weight double")
    return (out
            .withColumn("bias", F.lit(float(bias)))
            .withColumn("n_train", F.lit(int(n_train)).cast("long"))
            .withColumn("losses",
                        F.array(*[F.lit(float(v)) for v in losses])))


def _logistic_featurize(df, id_col, text_col, label_col, *, dim,
                        extra_cols: Sequence[str] = ()) -> DataFrame:
    """The shared featurize pass of :func:`logistic_train` /
    :func:`logistic_cv`: per-doc bucket-sorted sparse count arrays
    ``(_id, _y, _jc, _n, *extra_cols)`` — token-free docs drop out."""
    from .dedup import hash48_md5

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("double").alias("_y"),
        *[F.col(c) for c in extra_cols],
        F.explode(_tokens(F.col(text_col))).alias("_tok"))
    sparse = (toks
              .withColumn("_j", (hash48_md5(F.col("_tok")) % F.lit(dim))
                          .cast("int"))
              .groupBy("_id", "_y", *extra_cols, "_j")
              .agg(F.count(F.lit(1)).alias("_c")))
    return (sparse.groupBy("_id", "_y", *extra_cols)
            .agg(F.sort_array(F.collect_list(F.struct("_j", "_c")))
                 .alias("_jc"),
                 F.sum("_c").alias("_n")))


def _logistic_z(w: list, bias: float, normalize: bool):
    """Margin column over a featurized frame: the literal-array fold
    z = Σ x_j·w_j + b (map-only — the weights ride the plan)."""
    wlit = F.array(*[F.lit(float(v)) for v in w])
    return F.aggregate(
        "_jc", F.lit(0.0),
        lambda acc, s: acc
        + (s["_c"].cast("double") / F.col("_n") if normalize
           else s["_c"].cast("double"))
        * F.element_at(wlit, s["_j"] + 1),
    ) + F.lit(float(bias))


def _logistic_fit(feats: DataFrame, n_train: int, *, dim, iterations,
                  lr, normalize, init_w=None, init_bias=0.0,
                  l2=0.0) -> tuple:
    """The gradient loop of :func:`logistic_train` over a featurized
    frame: per step ONE sentinel-tagged map-side-combined groupBy
    (bucket −1 = loss, −2 = bias gradient) collecting dim+2 rows.
    ``l2`` adds ridge shrinkage to the weight update (w −= lr·(g/n +
    l2·w); the bias is conventionally unpenalized) — driver-side
    arithmetic over the already-collected gradient, zero extra plan.
    Returns (weights, bias, losses)."""
    w = list(init_w) if init_w is not None else [0.0] * dim
    bias = float(init_bias)
    losses: list = []
    for _ in range(iterations):
        z = _logistic_z(w, bias, normalize)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        r = p - F.col("_y")
        logloss = -(F.col("_y") * F.log(p)
                    + (F.lit(1.0) - F.col("_y")) * F.log(F.lit(1.0) - p))
        # residual/loss are computed once per doc in this projection and
        # referenced by the exploded feature rows plus the two sentinels
        grad = (feats
                .withColumn("_r", r).withColumn("_l", logloss)
                .select(F.explode(F.concat(
                    F.transform(
                        "_jc",
                        lambda s: F.struct(
                            s["_j"].alias("j"),
                            (F.col("_r")
                             * (s["_c"].cast("double") / F.col("_n")
                                if normalize
                                else s["_c"].cast("double"))).alias("v"))),
                    F.array(F.struct(F.lit(-1).alias("j"),
                                     F.col("_l").alias("v")),
                            F.struct(F.lit(-2).alias("j"),
                                     F.col("_r").alias("v"))),
                )).alias("_e"))
                .groupBy(F.col("_e.j").alias("j"))
                .agg(F.sum("_e.v").alias("g"))
                .collect())
        gmap = {row["j"]: row["g"] for row in grad}
        losses.append(gmap.get(-1, 0.0) / n_train)
        bias -= lr * gmap.get(-2, 0.0) / n_train
        if l2:
            # ridge shrinkage touches EVERY weight, not just buckets
            # with data gradient this step
            for j in range(dim):
                w[j] -= lr * (gmap.get(j, 0.0) / n_train + l2 * w[j])
        else:
            for j, g in gmap.items():
                if j >= 0:
                    w[j] -= lr * g / n_train
    return w, bias, losses


def logistic_train_distributed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    *,
    dim: int = 1 << 21,
    iterations: int = 3,
    lr: float = 0.5,
    normalize: bool = True,
    l2: float = 0.0,
) -> DataFrame:
    """:func:`logistic_train` with the MODEL STATE living in a
    DataFrame instead of the driver — the path past
    :data:`LOGISTIC_TRAIN_MAX_DIM` for fastText-scale hashed models
    (2M+ buckets), where a literal-array weight vector can ride
    neither the plan nor the driver comfortably. Same arithmetic, same
    hashing, same zero init and fixed steps; the weight table is only
    ever touched by joins and aggregations:

    per step — (1) margin: the sparse (id, y, j, x) frame joins the
    weight table on the bucket (AQE broadcasts while the model is
    small; a shuffle join when it is not) and groupBy(id) sums
    ``z = Σ x·w``; (2) residual/log-loss: one doc-keyed projection,
    whose 1-row loss/bias-gradient agg is the only per-step collect
    (two scalars — the model never visits the driver); (3) update:
    gradient groupBy(bucket) full-outer-joins the weight table,
    ``w −= lr·g/n``, behind a ``localCheckpoint`` lineage cut (the
    pagerank rank-vector discipline).

    Returns the same contract as :func:`logistic_train` — ``(bucket,
    weight, bias, n_train, losses)`` — except only buckets some token
    hashed into appear (absent buckets are implicitly 0.0; with
    dim = 2²¹ a dense frame would be mostly zeros).
    ``fit.select("bucket", "weight")`` feeds
    :func:`hashed_linear_score` unchanged.

    Output-parity note: z sums floats in shuffle order rather than the
    literal path's bucket-sorted fold order, so weights agree with
    :func:`logistic_train` to float-summation noise (~1e-15 relative;
    differential pinned by test), not bit-for-bit.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    from .dedup import hash48_md5

    spark = df.sparkSession
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("double").alias("_y"),
        F.explode(_tokens(F.col(text_col))).alias("_tok"))
    counts = (toks
              .withColumn("_j", (hash48_md5(F.col("_tok")) % F.lit(dim))
                          .cast("long"))
              .groupBy("_id", "_y", "_j")
              .agg(F.count(F.lit(1)).alias("_c")))
    ntok = counts.groupBy("_id").agg(F.sum("_c").alias("_n"))
    sparse = (counts.join(ntok, "_id")
              .select("_id", "_y", "_j",
                      ((F.col("_c") / F.col("_n")) if normalize
                       else F.col("_c").cast("double")).alias("_x"))
              .localCheckpoint(eager=False))
    n_train = sparse.select("_id").distinct().count()
    if n_train == 0:
        raise ValueError(
            "logistic_train_distributed: no documents with tokens")

    weights = spark.createDataFrame([], "_j long, _w double")
    bias = 0.0
    losses: list = []
    for _ in range(iterations):
        z = (sparse.join(weights, "_j", "left")
             .groupBy("_id", "_y")
             .agg((F.sum(F.col("_x") * F.coalesce("_w", F.lit(0.0)))
                   + F.lit(float(bias))).alias("_z")))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_z")))
        scored = z.select(
            "_id", (p - F.col("_y")).alias("_r"),
            (-(F.col("_y") * F.log(p)
               + (F.lit(1.0) - F.col("_y"))
               * F.log(F.lit(1.0) - p))).alias("_l"))
        scored = scored.localCheckpoint(eager=False)
        head = scored.agg(F.sum("_l").alias("l"),
                          F.sum("_r").alias("r")).first()
        losses.append(head["l"] / n_train)
        grad = (sparse.join(scored.select("_id", "_r"), "_id")
                .groupBy("_j")
                .agg(F.sum(F.col("_r") * F.col("_x")).alias("_g")))
        weights = (weights.join(grad, "_j", "full_outer")
                   .select("_j",
                           (F.coalesce("_w", F.lit(0.0))
                            - F.lit(float(lr))
                            * (F.coalesce("_g", F.lit(0.0))
                               / F.lit(float(n_train))
                               + F.lit(float(l2))
                               * F.coalesce("_w", F.lit(0.0))))
                           .alias("_w"))
                   .localCheckpoint(eager=False))
        bias -= lr * head["r"] / n_train

    return (weights
            .select(F.col("_j").cast("int").alias("bucket"),
                    F.col("_w").alias("weight"))
            .withColumn("bias", F.lit(float(bias)))
            .withColumn("n_train", F.lit(int(n_train)).cast("long"))
            .withColumn("losses",
                        F.array(*[F.lit(float(v)) for v in losses])))


def logistic_cv(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    *,
    dim: int = 1 << 10,
    iterations: int = 3,
    lr: float = 0.5,
    k: int = 3,
    normalize: bool = True,
    salt: str = "cv",
    l2: float = 0.0,
) -> DataFrame:
    """K-fold cross-validation of :func:`logistic_train` — model
    selection stays in-engine: folds come from
    :func:`~.sampling.with_kfold`'s md5 assignment (a pure function of
    the doc id — folds survive re-partitioning and engines), each fold
    ``f`` trains the deterministic gradient loop on the other k−1
    folds and evaluates mean log-loss on fold ``f`` with the trained
    weights riding the plan as literals. Returns one row per fold:
    ``(fold, n_train, n_val, train_loss_start, train_loss_end,
    val_loss)`` — train_loss_* bracket the recorded ladder
    (start-of-first / start-of-last step), val_loss is the selection
    metric. All three are smooth averages (no threshold comparisons),
    so the whole report value-oracles under 9dp rounding.

    Scale shape: the corpus featurizes ONCE (fold id carried through
    the pass) behind a localCheckpoint; each fold reuses that frame
    filtered map-side — k×iterations sentinel-groupBy jobs plus k
    single-row eval aggs, driver state k×(dim+2) doubles."""
    from .sampling import with_kfold

    feats = _logistic_featurize(
        with_kfold(df, id_col, k, out="_fold", salt=salt),
        id_col, text_col, label_col, dim=dim, extra_cols=("_fold",),
    ).localCheckpoint(eager=False)
    sizes = {r["_fold"]: r["n"] for r in
             feats.groupBy("_fold").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    if len(sizes) < k:
        raise ValueError(
            f"logistic_cv: only {len(sizes)} of {k} folds are non-empty "
            f"— too few documents for k={k}")
    out_rows = []
    for f in range(k):
        train = feats.filter(F.col("_fold") != f)
        n_train = sum(n for g, n in sizes.items() if g != f)
        w, bias, losses = _logistic_fit(train, n_train, dim=dim,
                                        iterations=iterations, lr=lr,
                                        normalize=normalize, l2=l2)
        z = _logistic_z(w, bias, normalize)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        vl = (feats.filter(F.col("_fold") == f)
              .agg(F.avg(-(F.col("_y") * F.log(p)
                           + (F.lit(1.0) - F.col("_y"))
                           * F.log(F.lit(1.0) - p))).alias("l"))
              .first()["l"])
        out_rows.append((f, int(n_train), int(sizes[f]),
                         float(losses[0]), float(losses[-1]), float(vl)))
    return df.sparkSession.createDataFrame(
        out_rows,
        "fold int, n_train long, n_val long, train_loss_start double, "
        "train_loss_end double, val_loss double")


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram for a probabilistic classifier: rows with a
    score in [0, 1] and a 0/1 label are bucketed into ``n_bins``
    equal-width score bins; per bin the report emits ``(bin, n,
    avg_score, frac_pos, gap)`` where ``gap = frac_pos − avg_score`` —
    the quantity a calibrated model keeps near 0 in every bin. The QA
    step before trusting a quality-filter classifier's scores as
    sampling weights or gate thresholds (an over-confident filter
    silently skews the corpus it curates).

    Scores land in ``floor(score·n_bins)`` clamped to the last bin
    (score 1.0 joins the top bin); NULL scores/labels AND
    out-of-contract scores outside [0, 1] are dropped and counted
    nowhere — a negative or >1 "probability" is a caller bug, and
    silently minting bins for it would skew every per-bin average.
    Companion :func:`expected_calibration_error` folds this report
    into the scalar ECE under the same drop rule.

    Scale shape: ONE map-side-combined groupBy over an n_bins-cardinality
    key — the fold-bucket histogram pattern; no window, no second pass.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    s, y = F.col(score_col).cast("double"), F.col(label_col).cast("double")
    b = F.least(F.floor(s * n_bins), F.lit(n_bins - 1)).cast("int")
    return (df.filter(s.isNotNull() & y.isNotNull()
                      & (s >= 0.0) & (s <= 1.0))
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg(s).alias("avg_score"),
                 F.avg(y).alias("frac_pos"))
            .withColumn("gap", F.col("frac_pos") - F.col("avg_score")))


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score — the one-row
    verdict on WHY a probabilistic quality filter scores the way it
    does, where :func:`calibration_report` shows the per-bin shape and
    ECE collapses only the calibration axis:

        (n, brier, reliability, resolution, uncertainty, residual)

    * ``brier`` — exact mean (score − label)², computed row-level (not
      off the bins),
    * ``reliability`` — Σ n_k(f̄_k − ō_k)²/N over the same
      equal-width clamped bins as the report (lower = better
      calibrated),
    * ``resolution`` — Σ n_k(ō_k − ō)²/N (higher = the filter
      actually separates; a useless-but-calibrated constant forecast
      has 0),
    * ``uncertainty`` — ō(1 − ō), the irreducible base-rate term,
    * ``residual`` — brier − (reliability − resolution + uncertainty):
      the exact identity holds only for forecasts constant within
      bins, so the residual is the within-bin forecast variance —
      report it rather than pretend the identity closed (it shrinks
      with n_bins; a large residual means the bins are too coarse to
      read the other terms literally).

    Drop rule shared with the calibration family: NULL score/label and
    out-of-[0, 1] scores drop. Scale shape: ONE map-side-combined
    groupBy on the n_bins-cardinality key carrying (n, Σs, Σy,
    Σ(s−y)²), then KB-scale folds (a 1-row total cross-joined into the
    bin frame). Float contract: all five stats are double sums over
    exact counts — round 9dp (+0.0) cross-engine."""
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(F.floor(s * n_bins), F.lit(n_bins - 1)).cast("int")
    per = (df.filter(s.isNotNull() & y.isNotNull()
                     & (s >= 0.0) & (s <= 1.0))
           .groupBy(b.alias("_b"))
           .agg(F.count(F.lit(1)).alias("_n"),
                F.sum(s).alias("_ss"), F.sum(y).alias("_sy"),
                F.sum((s - y) * (s - y)).alias("_sq")))
    tot = per.agg(F.sum("_n").alias("_tot_n"),
                  F.sum("_sy").alias("_tot_sy"),
                  F.sum("_sq").alias("_tot_sq"))
    joined = per.crossJoin(F.broadcast(tot))
    fbar = F.col("_ss") / F.col("_n")
    obar_k = F.col("_sy") / F.col("_n")
    obar = F.col("_tot_sy") / F.col("_tot_n")
    out = (joined.groupBy()
           .agg(F.max("_tot_n").alias("n"),
                (F.max("_tot_sq") / F.max("_tot_n")).alias("brier"),
                (F.sum(F.col("_n") * (fbar - obar_k) * (fbar - obar_k))
                 / F.max("_tot_n")).alias("reliability"),
                (F.sum(F.col("_n") * (obar_k - obar) * (obar_k - obar))
                 / F.max("_tot_n")).alias("resolution"),
                F.max(obar * (1 - obar)).alias("uncertainty")))
    return out.select(
        "n", "brier", "reliability", "resolution", "uncertainty",
        (F.col("brier") - (F.col("reliability") - F.col("resolution")
                           + F.col("uncertainty"))).alias("residual"))


def stratified_classification_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    strata_cols: tuple[str, ...] | list[str],
    *,
    threshold: float = 0.5,
    z: float = 1.959963985,
) -> DataFrame:
    """Per-stratum thresholded classifier metrics with Wilson interval
    bounds — the "is the quality filter fair across sources" QA that a
    pooled AUC hides: a classifier can look calibrated overall while
    systematically rejecting one source. Rows follow the calibration
    drop rule (NULL score/label and out-of-[0, 1] scores drop); a row
    predicts positive when ``score >= threshold``. Per stratum the
    report emits the confusion counts ``(n, tp, fp, fn, tn)``, the
    derived ``precision``/``recall``/``f1`` (NULL where undefined —
    zero predicted or zero actual positives — rather than a fake 0),
    and Wilson 95% score-interval bounds on precision and recall
    (``z`` = the normal quantile; Wilson rather than normal-approx
    because small strata with extreme rates are exactly where the
    naive interval collapses to nonsense):

        (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)

    Scale shape: ONE map-side-combined groupBy over the strata key —
    four conditional count aggregates ride the scan projection; every
    derived column is closed-form arithmetic on the stratum-cardinality
    frame. Float contract: round to 9dp (+0.0) for cross-engine
    comparison (sqrt/division only — no transcendental asymmetry)."""
    gc = list(strata_cols)
    if not gc:
        raise ValueError("strata_cols must name at least one column")
    reserved = ("n", "tp", "fp", "fn", "tn", "precision", "recall",
                "f1", "precision_lo", "precision_hi", "recall_lo",
                "recall_hi")
    if any(c in reserved for c in gc):
        raise ValueError("strata_cols collide with the output columns")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    pred = (s >= F.lit(float(threshold))).cast("int")
    agg = (df.filter(s.isNotNull() & y.isNotNull()
                     & (s >= 0.0) & (s <= 1.0))
           .groupBy(*gc)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(pred * y).alias("tp"),
                F.sum(pred * (1 - y)).alias("fp"),
                F.sum((1 - pred) * y).alias("fn"),
                F.sum((1 - pred) * (1 - y)).alias("tn")))

    def wilson(p, n):
        # gate on n > 0 explicitly: ANSI mode raises DIVIDE_BY_ZERO
        # eagerly even when the paired rate is already NULL
        zz = float(z) * float(z)
        center = p + F.lit(zz) / (2 * n)
        margin = F.lit(float(z)) * F.sqrt(
            p * (1 - p) / n + F.lit(zz) / (4 * n * n))
        denom = 1 + F.lit(zz) / n
        return (F.when(n > 0, (center - margin) / denom),
                F.when(n > 0, (center + margin) / denom))

    npred = (F.col("tp") + F.col("fp")).cast("double")
    nact = (F.col("tp") + F.col("fn")).cast("double")
    prec = F.when(npred > 0, F.col("tp") / npred)
    rec = F.when(nact > 0, F.col("tp") / nact)
    p_lo, p_hi = wilson(prec, npred)
    r_lo, r_hi = wilson(rec, nact)
    f1 = F.when((npred > 0) & (nact > 0) & (prec + rec > 0),
                2 * prec * rec / (prec + rec))
    return agg.select(
        *gc, "n", "tp", "fp", "fn", "tn",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
        p_lo.alias("precision_lo"), p_hi.alias("precision_hi"),
        r_lo.alias("recall_lo"), r_hi.alias("recall_hi"))


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Scalar ECE/MCE/Brier over the :func:`calibration_report` bins:
    one row ``(n, ece, mce, brier)`` — ECE = Σ (n_b/N)·|gap_b| (Naeini
    et al. 2015's binned estimator), MCE = max_b |gap_b|, plus the
    bin-free Brier score mean((score − label)²) from the same single
    scan, over the same row population as the report (NULLs and
    out-of-[0,1] scores dropped). A bins-cardinality re-aggregation on
    top of the report — two tiny jobs total, nothing corpus-sized
    leaves the executors."""
    s, y = F.col(score_col).cast("double"), F.col(label_col).cast("double")
    rep = calibration_report(df, score_col, label_col, n_bins=n_bins)
    brier = (df.filter(s.isNotNull() & y.isNotNull()
                       & (s >= 0.0) & (s <= 1.0))
             .agg(F.avg((s - y) * (s - y)).alias("brier"),
                  F.count(F.lit(1)).alias("n")))
    folded = rep.agg(
        (F.sum(F.col("n") * F.abs("gap")) / F.sum("n")).alias("ece"),
        F.max(F.abs("gap")).alias("mce"))
    return (brier.crossJoin(F.broadcast(folded))
            .select("n", "ece", "mce", "brier"))


def strip_common_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    sep: str = "\n",
    min_df: Optional[int] = None,
    min_df_frac: Optional[float] = None,
    out_col: str = "clean_text",
) -> DataFrame:
    """Cross-document boilerplate removal: delete every ``sep``-delimited
    line that occurs in at least ``min_df`` distinct documents (or
    ``min_df_frac`` of the corpus) — the RefinedWeb / CCNet line-level
    dedup recipe (headers, footers, cookie banners repeat across pages;
    the prose does not). Returns the input rows with ``out_col`` holding
    the text rebuilt from the surviving lines in original order (empty
    string when every line was boilerplate).

    Scale shape: lines explode once; the document-frequency groupBy and
    the anti join are keyed on ``xxhash64(line)`` — fixed 8-byte shuffle
    keys, the line strings never shuffle twice. The common-line frame is
    tiny by construction (only lines crossing the threshold survive the
    HAVING cut) so AQE broadcasts the anti join's right side; the corpus
    side streams. The rebuild is one id-keyed groupBy whose state is the
    document's own surviving lines — O(doc) per group, no global sort.
    With ``min_df_frac`` the corpus size is a 1-row aggregate broadcast.
    """
    import re as _re

    if (min_df is None) == (min_df_frac is None):
        raise ValueError("exactly one of min_df / min_df_frac required")
    pat = _re.escape(sep)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), pat, -1)).alias("pos", "line"),
    ).withColumn("_h", F.xxhash64("line"))
    dfc = lines.groupBy("_h").agg(
        F.count_distinct(F.col(id_col)).alias("line_df"))
    if min_df is not None:
        common = dfc.filter(F.col("line_df") >= F.lit(min_df))
    else:
        total = df.select(
            F.count_distinct(F.col(id_col)).alias("_total"))
        common = (dfc.crossJoin(F.broadcast(total))
                  .filter(F.col("line_df") >= F.col("_total") * min_df_frac))
    kept = lines.join(common.select("_h"), "_h", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias(out_col)
    )
    return (
        df.join(rebuilt, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_chars: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size character windows with overlap —
    the embedding/RAG ingestion primitive. Emits
    (id, chunk_idx, start, chunk_text) where ``start`` is the 0-based
    char offset and consecutive chunks share ``overlap`` chars.

    Pure JVM: one ``sequence`` + ``explode`` + ``substring`` projection —
    no shuffle at all (chunking inherits the scan's partitioning), no
    UDF; at 100 TB this is a map-only stage. Stride is
    ``chunk_chars - overlap``; the final partial chunk is kept (min
    length 1). Empty/null docs emit nothing.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be < chunk_chars")
    stride = chunk_chars - overlap
    n_chunks = F.greatest(
        F.ceil((F.length(F.col(text_col)) - F.lit(overlap))
               / F.lit(stride)).cast("int"),
        F.lit(1))
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    out = (
        df.filter(F.length(F.col(text_col)) > 0)
        .select(F.col(id_col), F.col(text_col), idx)
        .withColumn("start", F.col("chunk_idx") * stride)
        .withColumn("chunk_text",
                    F.substring(F.col(text_col), F.col("start") + 1,
                                chunk_chars))
    )
    return out.select(id_col, "chunk_idx", "start", "chunk_text")


def top_collocations(
    df: DataFrame,
    text_col: str,
    *,
    top_k: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """Corpus-level PMI-ranked bigram collocations — the lexical-analysis
    pass behind multi-word-token vocabularies and boilerplate phrase
    discovery. PMI = ln( P(w1,w2) / (P(w1)·P(w2)) ) with bigram
    probability over the bigram total and unigram probabilities over
    the token total; ``min_count`` cuts the unstable rare-pair tail
    (PMI's classic failure mode) BEFORE ranking.

    Returns the ``top_k`` rows (w1, w2, n_pair, pmi), ranked
    (pmi desc, w1, w2) via orderBy().limit() — TakeOrderedAndProject,
    no global sort. Scale shape: one explode each for bigram and
    unigram counts (map-side combined; both frames vocabulary-sized),
    two token-keyed joins of the vocab-sized frames, 1-row totals
    broadcast.
    """
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    big = (df.select(F.explode(pairs).alias("p"))
           .select("p.w1", "p.w2")
           .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
           .filter(F.col("n_pair") >= min_count))
    uni = (df.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("n_w")))
    totals = uni.agg(F.sum("n_w").alias("n_tok"))
    n_big = df.select(
        F.sum(F.greatest(F.size(_tokens(F.col(text_col))) - 1, F.lit(0)))
        .alias("n_big"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    scored = (
        big.join(u1, "w1").join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(n_big))
        .withColumn(
            "pmi",
            F.round(F.log(
                (F.col("n_pair") / F.col("n_big"))
                / ((F.col("n_w1") / F.col("n_tok"))
                   * (F.col("n_w2") / F.col("n_tok")))), 4))
    )
    return (scored.select("w1", "w2", "n_pair", "pmi")
            .orderBy(F.col("pmi").desc(), "w1", "w2")
            .limit(top_k))


def train_bpe_merges(
    df: DataFrame,
    text_col: str,
    *,
    num_merges: int = 200,
    min_count: int = 2,
    max_vocab: int = 50_000,
    end_of_word: str = "</w>",
) -> list:
    """Train byte-pair-encoding merges on the corpus (Sennrich et al.
    2016) — a REAL subword tokenizer, not the BPE-ish heuristic count:
    returns the ordered merge list ``[(left, right), ...]`` to feed
    :func:`apply_bpe` (or export for any BPE runtime).

    Scale shape is the one every production BPE trainer uses: the
    100 TB corpus is touched ONCE for word frequencies (one
    map-side-combined groupBy + a distributed top-``max_vocab`` cut by
    (count desc, word)); merge learning then iterates over that
    BOUNDED word-frequency table driver-side — model-scale compute on
    model-scale data, the same contract as the engine's rules-scale
    collects. Ties in pair frequency break lexicographically, making
    the merge list a pure function of the corpus (differential-tested
    against a naive reference implementation).

    ``min_count``/``max_vocab`` bound the driver table; words beyond
    the cut simply don't vote on merges (they still encode — BPE falls
    back to characters). Words are LOWERCASED whitespace tokens (the
    module's ``_tokens`` convention, matched by :func:`apply_bpe`);
    train on :func:`normalize_text` output for clean merges."""
    toks = _tokens(F.col(text_col))
    counts = (df.select(F.explode(toks).alias("w"))
              .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") >= min_count)
              .orderBy(F.col("n").desc(), F.col("w"))
              .limit(int(max_vocab))
              .collect())
    vocab = {tuple(r["w"]) + (end_of_word,): r["n"] for r in counts}
    merges: list = []
    for _ in range(num_merges):
        pairs: dict = {}
        for word, n in vocab.items():
            for i in range(len(word) - 1):
                p = (word[i], word[i + 1])
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p))
        if pairs[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict = {}
        for word, n in vocab.items():
            out, i = [], 0
            while i < len(word):
                if (i < len(word) - 1
                        and (word[i], word[i + 1]) == best):
                    out.append(merged)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def apply_bpe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list,
    *,
    end_of_word: str = "</w>",
    out: str = "bpe_tokens",
) -> DataFrame:
    """Encode text with a trained merge list: per whitespace token,
    split to characters + ``end_of_word``, replay the merges in
    training order, emit the resulting subwords. Returns
    ``(id, out array<string>, n_bpe_tokens)``.

    Arrow-batched ``mapInPandas`` — tokenization is the canonical
    justified-Python stage (a 200-merge sequential rewrite per word has
    no codegen form); the merge RANKS are dict-looked-up per pair, so
    each word costs O(len · merges-applied), not O(len · num_merges).
    Partition-preserving, model (merge list) rides the closure."""
    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   StringType, StructField, StructType)

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    schema = StructType([
        StructField(id_col, LongType()),
        StructField(out, ArrayType(StringType())),
        StructField("n_bpe_tokens", IntegerType()),
    ])

    def encode_word(word: str) -> list:
        parts = list(word) + [end_of_word]
        while len(parts) > 1:
            best_rank, best_i = None, None
            for i in range(len(parts) - 1):
                r = ranks.get((parts[i], parts[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            parts[best_i:best_i + 2] = [parts[best_i]
                                        + parts[best_i + 1]]
        return parts

    def batches(it):
        import pandas as pd
        for pdf in it:
            toks_out, counts = [], []
            for t in pdf[text_col]:
                if t is None:
                    toks_out.append(None)
                    counts.append(None)
                    continue
                words = t.strip().lower().split()
                enc = [p for w in words for p in encode_word(w)]
                toks_out.append(enc)
                counts.append(len(enc))
            yield pd.DataFrame({
                id_col: pdf[id_col],
                out: pd.Series(toks_out, dtype=object),
                "n_bpe_tokens": pd.array(counts, dtype="Int32"),
            })

    return df.select(id_col, text_col).mapInPandas(batches, schema)


def build_vocab(
    df: DataFrame,
    text_col: str,
    *,
    min_count: int = 1,
    max_size: Optional[int] = None,
    specials: Sequence[str] = ("<unk>",),
) -> DataFrame:
    """Frequency vocabulary with contiguous ids — the tokenizer-prep
    step of a training pipeline. ``specials`` take ids 0..len-1 (count
    0); corpus tokens are ranked by (count desc, token asc) and take the
    next ids, after a ``min_count`` cut and an optional ``max_size``
    total cap. Returns (token, count, token_id).

    Scale shape: ONE map-combined groupBy builds the counts (shuffle is
    vocab-sized, not corpus-sized). The id assignment is a row_number
    over a single global ordering — a one-partition sort, safe ONLY
    because the frame is vocabulary-sized and bounded: set ``max_size``
    (the cap runs through ``orderBy().limit()`` = TakeOrderedAndProject,
    so the sort never materializes the uncut vocab either) or a real
    ``min_count`` on open-vocabulary corpora. Deterministic: the
    ordering is total (token asc breaks count ties), so ids are stable
    across runs/partitionings/engines.
    """
    counts = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("count"))
    )
    if specials:
        # specials are RESERVED: a corpus token colliding with one (a
        # web doc containing a literal "<unk>") must not create a second
        # vocab entry — the duplicate would fan out the encode join
        counts = counts.filter(~F.col("token").isin(list(specials)))
    if min_count > 1:
        counts = counts.filter(F.col("count") >= min_count)
    order = [F.col("count").desc(), F.col("token").asc()]
    if max_size is not None:
        room = max_size - len(specials)
        if room <= 0:
            raise ValueError("max_size must exceed len(specials)")
        counts = counts.orderBy(*order).limit(room)
    ranked = counts.withColumn(
        "token_id",
        F.row_number().over(Window.orderBy(*order)) + len(specials) - 1)
    if not specials:
        return ranked.select("token", "count", "token_id")
    from ..plans import local_frame
    spec = local_frame(
        df.sparkSession, [(s, 0, i) for i, s in enumerate(specials)],
        "token string, count bigint, token_id int")
    return spec.unionByName(ranked.select("token", "count", "token_id"))


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str,
    text_col: str,
    *,
    unk_id: int = 0,
    out: str = "token_ids",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Encode documents to integer token-id sequences under a
    :func:`build_vocab` table (out-of-vocabulary → ``unk_id``). Returns
    (id, n_tokens, token_ids) with order preserved; empty docs get an
    empty array.

    Scale shape: posexplode → token-keyed equi-join against the vocab →
    one id-keyed groupBy reassembling via ``array_sort(collect_list(
    struct(pos, id)))``. The vocab is dims-sized BY CONTRACT
    (build_vocab's min_count/max_size cuts), so the lookup join is
    broadcast-hinted by default and the corpus side never shuffles for
    it — pass ``broadcast_vocab=False`` for a deliberately unbounded
    vocabulary and let AQE pick the join. The only corpus shuffle is
    the per-document regroup, carrying int pairs instead of text.
    """
    lookup = vocab.select("token", "token_id")
    if broadcast_vocab:
        lookup = F.broadcast(lookup)
    toks = df.select(
        F.col(id_col),
        F.posexplode(_tokens(F.col(text_col))).alias("__pos", "token"))
    encoded = (
        toks.join(lookup, "token", "left")
        .select(
            F.col(id_col),
            F.col("__pos"),
            F.coalesce(F.col("token_id"), F.lit(unk_id)).alias("__tid"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("__pos", "__tid")))
             .alias("__pt"))
        .select(
            F.col(id_col),
            F.size("__pt").alias("n_tokens"),
            F.transform(F.col("__pt"), lambda s: s["__tid"]).alias(out))
    )
    return (
        df.select(id_col)
        .join(encoded, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col(out), F.array().cast("array<int>")).alias(out))
    )


# ---------------------------------------------------------------------------
# Gopher-style composite quality gate (round 5)
# ---------------------------------------------------------------------------

#: the Gopher "required words" — a doc passing the gate must contain at
#: least ``min_stop_hits`` distinct entries (Rae et al. 2021, A1.1)
GOPHER_STOP_WORDS: Sequence[str] = (
    "the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021,
    arXiv:2112.11446 Appendix A1.1) as ONE fused projection: word-count
    bounds, mean word length, symbol-to-word ratio (# and ellipses),
    bullet-started / ellipsis-ended line fractions, alphabetic-word
    fraction, and required-stop-word hits — the standard web-scale
    heuristic gate, with every sub-signal emitted alongside the final
    verdict so downstream analysis can see WHY a document failed
    (aggregate the booleans for a per-rule rejection report).

    Returns (id, n_words, mean_word_len, symbol_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    stopword_hits, passes).

    Scale shape: zero shuffle — everything is higher-order-function
    arithmetic over the token/line arrays inside one codegen scan
    projection, exactly like :func:`quality_score`. Empty AND NULL
    documents get 0 ratios and ``passes`` = false (min_words bound) —
    NULL text is folded to '' up front so no metric goes NULL and a
    boolean rejection rollup counts every document.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    words = _tokens(txt)
    n_words = F.size(words)
    nz = F.greatest(n_words, F.lit(1))
    mean_word_len = (
        F.aggregate(words, F.lit(0).cast("long"),
                    lambda a, w: a + F.length(w))
        / nz)
    symbol_ratio = F.regexp_count(txt, F.lit(r"#|\.\.\.|…")) / nz
    lines = F.split(txt, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(F.filter(
            lines, lambda l: F.ltrim(l).rlike(r"^[-*•]")))
        / n_lines)
    ellipsis_frac = (
        F.size(F.filter(
            lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$")))
        / n_lines)
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[a-z]"))) / nz)
    stop_hits = F.size(F.filter(
        F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS]),
        lambda s: F.array_contains(words, s)))
    passes = (
        n_words.between(min_words, max_words)
        & mean_word_len.between(min_mean_word_len, max_mean_word_len)
        & (symbol_ratio < max_symbol_ratio)
        & (bullet_frac < max_bullet_line_frac)
        & (ellipsis_frac < max_ellipsis_line_frac)
        & (alpha_frac > min_alpha_word_frac)
        & (stop_hits >= min_stop_hits))
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_frac, 4).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
        passes.alias("passes"),
    )


#: two-level public suffixes (compact snapshot of the common entries of
#: the Mozilla Public Suffix List): hosts ending in one of these keep
#: THREE labels as the registered domain instead of two. A snapshot is
#: deliberate — the full PSL is ~10k entries and churns; pass
#: ``extra_suffixes`` for the long tail your crawl actually hits.
TWO_LEVEL_SUFFIXES: Sequence[str] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.nz", "net.nz", "org.nz",
    "co.in", "net.in", "org.in", "gen.in", "firm.in",
    "co.kr", "ne.kr", "or.kr", "re.kr",
    "com.br", "net.br", "org.br", "gov.br",
    "com.mx", "org.mx", "gob.mx",
    "com.ar", "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.tw", "com.sg", "com.hk", "com.my", "com.ph", "com.vn",
    "co.za", "org.za", "com.tr", "org.tr", "com.pl", "com.ru",
    "co.il", "org.il", "com.eg", "com.sa", "com.ua",
)

#: tracking-parameter keys stripped by :func:`url_normalize` (prefix
#: match for utm_*, exact match otherwise)
TRACKING_PARAM_PREFIXES: Sequence[str] = ("utm_",)
TRACKING_PARAMS: Sequence[str] = (
    "fbclid", "gclid", "msclkid", "mc_cid", "mc_eid", "igshid",
    "ref", "ref_src",
)

#: scheme://authority path ?query #fragment — RE2/Java-identical syntax
#: authority excludes brackets: a bracketed IPv6 authority
#: (``[::1]:8080``) would mis-split on the host/port colon, so such
#: URLs are rejected whole (NULL struct) rather than silently mangled
#: (ADVICE r8). RE2/Java-common syntax only.
_URL_RE = (r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#\[\]]+)([^?#]*)"
           r"(?:\?([^#]*))?(?:#(.*))?$")


def url_parts(url: Column) -> Column:
    """Parse an absolute URL into a ``struct(scheme, host, port, path,
    query, fragment)`` — the columnar ``urlsplit`` for web-crawl
    curation (per-domain mixing, dedup keys, robots joins). One regex
    in whole-stage codegen, zero shuffle, no UDF; the pattern uses only
    RE2/Java-common syntax so it is DuckDB-oracle-checkable.

    ``scheme`` and ``host`` are lowercased (case-insensitive per RFC
    3986), userinfo is stripped from the authority, ``port`` is NULL
    when absent OR malformed (``:8a`` — ``try_cast`` so ANSI mode
    (Spark 4.x default) yields NULL instead of throwing; ADVICE r8),
    ``path``/``query``/``fragment`` keep their case (significant).
    NULL or non-URL input → NULL struct. Bracketed IPv6 authorities
    (``[::1]:8080``) are OUT of contract: the colon-split host/port
    would mis-assign them, so they are rejected to a NULL struct like
    any other non-URL."""
    scheme = F.lower(F.regexp_extract(url, _URL_RE, 1))
    auth = F.regexp_extract(url, _URL_RE, 2)
    hostport = F.element_at(F.split(auth, "@"), -1)
    host = F.lower(F.element_at(F.split(hostport, ":"), 1))
    port = F.when(hostport.contains(":"),
                  F.element_at(F.split(hostport, ":"), -1)
                  .try_cast("int"))
    path = F.regexp_extract(url, _URL_RE, 3)
    query = F.nullif(F.regexp_extract(url, _URL_RE, 4), F.lit(""))
    frag = F.nullif(F.regexp_extract(url, _URL_RE, 5), F.lit(""))
    return F.when(url.rlike(_URL_RE), F.struct(
        scheme.alias("scheme"), host.alias("host"), port.alias("port"),
        path.alias("path"), query.alias("query"),
        frag.alias("fragment")))


def registered_domain(
    host: Column,
    *,
    extra_suffixes: Sequence[str] = (),
) -> Column:
    """The registrable (pay-level) domain of a host — ``a.b.news.co.uk``
    → ``news.co.uk``, ``cdn.example.com`` → ``example.com`` — the key
    web-scale pipelines group by for per-domain quotas, domain mixing
    weights, and crawl-politeness stats (grouping by raw host splits
    every CDN subdomain into its own group; by TLD merges the internet).

    Uses :data:`TWO_LEVEL_SUFFIXES` (+ ``extra_suffixes``) to keep
    three labels under two-level public suffixes, two otherwise; a bare
    single-label host passes through. Pure split/slice codegen."""
    sufs = list(TWO_LEVEL_SUFFIXES) + list(extra_suffixes)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2),
                        F.element_at(labels, -1))
    is2 = F.array_contains(F.array(*[F.lit(s) for s in sufs]), last2)
    return (F.when(host.isNull(), F.lit(None).cast("string"))
            .when((n >= 3) & is2,
                  F.concat_ws(".", F.element_at(labels, -3), last2))
            .when(n >= 2, last2)
            .otherwise(host))


def url_normalize(
    url: Column,
    *,
    drop_fragment: bool = True,
    drop_tracking_params: bool = True,
) -> Column:
    """Canonical URL for dedup keys: lowercase scheme/host, strip
    userinfo and the scheme's default port (80/443), empty path →
    ``/``, drop the fragment, and drop tracking query parameters
    (``utm_*`` + :data:`TRACKING_PARAMS`) while PRESERVING the order of
    the survivors (reordering can change server semantics). Two URLs
    that normalize equal are the same fetch for dedup purposes.

    One codegen projection (regex split + list filter + rebuild), no
    UDF. NULL / non-URL input → NULL."""
    p = url_parts(url)
    scheme, host, port = p["scheme"], p["host"], p["port"]
    keep_port = port.isNotNull() & ~(
        ((scheme == "http") & (port == 80))
        | ((scheme == "https") & (port == 443)))
    path = F.when(p["path"] == "", F.lit("/")).otherwise(p["path"])
    query = p["query"]
    if drop_tracking_params:
        params = F.split(query, "&")
        kept = F.filter(params, lambda kv: ~_is_tracking_param(kv))
        query = F.when(query.isNotNull() & (F.size(kept) > 0),
                       F.array_join(kept, "&"))
    out = F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port.cast("string")))
        .otherwise(F.lit("")),
        path,
        F.when(query.isNotNull(), F.concat(F.lit("?"), query))
        .otherwise(F.lit("")))
    if not drop_fragment:
        out = F.concat(out, F.when(
            p["fragment"].isNotNull(),
            F.concat(F.lit("#"), p["fragment"])).otherwise(F.lit("")))
    return F.when(p.isNotNull(), out)


def _is_tracking_param(kv: Column) -> Column:
    key = F.lower(F.element_at(F.split(kv, "="), 1))
    cond = F.lit(False)
    for pre in TRACKING_PARAM_PREFIXES:
        cond = cond | key.startswith(pre)
    for name in TRACKING_PARAMS:
        cond = cond | (key == name)
    return cond


#: HTML entities decoded by :func:`strip_html` (the handful that
#: dominate web text; a full entity table is a tokenizer concern)
_HTML_ENTITIES: Sequence[tuple[str, str]] = (
    ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"),
)


def strip_html(
    text: Column,
    *,
    drop_blocks: Sequence[str] = ("script", "style", "noscript"),
    decode_entities: bool = True,
) -> Column:
    """HTML → text, the step BEFORE :func:`normalize_text` and the C4
    gate when the corpus is raw crawl markup: drop ``drop_blocks``
    elements with their CONTENT (scripts/styles are never prose), drop
    comments, turn block-level closers and ``<br>`` into newlines (so
    line-based filters still see document structure), strip every
    remaining tag, then decode the dominant entities. One zero-shuffle
    ``regexp_replace`` chain in codegen — scan-speed at 100 TB; all
    patterns RE2/Java-common ((?is) flags, non-greedy spans), so the op
    is DuckDB-oracle-checkable. NULL in → NULL out.

    Not a parser: pathological markup (unclosed scripts, tags inside
    attributes) degrades gracefully to over-stripping, which is the
    right failure mode for a quality pipeline. Run
    :func:`normalize_text` after to collapse the whitespace this
    leaves behind."""
    out = text
    for b in drop_blocks:
        out = F.regexp_replace(
            out, r"(?is)<" + b + r"\b[^>]*>.*?</" + b + r"\s*>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(
        out, r"(?i)<(?:br|/p|/div|/li|/h[1-6]|/tr|/ul|/ol)[^>]*>", "\n")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    if decode_entities:
        for ent, rep in _HTML_ENTITIES:
            out = F.replace(out, F.lit(ent), F.lit(rep))
    return out


#: phrases whose presence drops a LINE under the C4 policy-boilerplate
#: rule (matched lowercase, substring semantics)
C4_POLICY_PHRASES: Sequence[str] = (
    "privacy policy", "terms of use", "cookie policy", "uses cookies",
)


def c4_line_keep(
    line: Column,
    *,
    min_words: int = 3,
    require_terminal_punct: bool = True,
    drop_word: str = "javascript",
    policy_phrases: Sequence[str] = C4_POLICY_PHRASES,
) -> Column:
    """The C4 per-LINE keep predicate (Raffel et al. 2020, JMLR 21 §2.2
    — the cleaning recipe behind the C4 corpus): a line survives when it

    * has at least ``min_words`` whitespace-separated words,
    * ends in a terminal punctuation mark (``. ! ?`` or a closing
      double quote) after right-trim — drops nav menus and fragments,
    * does not mention ``drop_word`` (C4 uses "javascript": such lines
      are browser warnings, not content), and
    * contains none of the ``policy_phrases`` (cookie/ToS boilerplate).

    All checks are case-insensitive substring/regex tests with
    identical Java-regex/RE2 semantics, so the predicate is
    DuckDB-oracle-checkable. Pure expression — usable inside
    ``F.filter`` over a split-lines array (zero shuffle, no UDF)."""
    low = F.lower(line)
    words = F.filter(F.split(F.trim(line), r"\s+"),
                     lambda w: w != F.lit(""))
    keep = F.size(words) >= min_words
    if require_terminal_punct:
        keep = keep & F.rtrim(line).rlike(r'[.!?"]$')
    if drop_word:
        keep = keep & ~low.contains(F.lit(drop_word.lower()))
    for phrase in policy_phrases:
        keep = keep & ~low.contains(F.lit(phrase.lower()))
    return keep


def c4_line_filter(
    text: Column,
    *,
    sep: str = "\n",
    min_words: int = 3,
    require_terminal_punct: bool = True,
    drop_word: str = "javascript",
    policy_phrases: Sequence[str] = C4_POLICY_PHRASES,
) -> Column:
    """Rebuild a document from only its :func:`c4_line_keep` survivor
    lines — the C4 line-level cleaning transform. ONE zero-shuffle
    split → filter → join projection in whole-stage codegen; at 100 TB
    this runs at scan speed like :func:`normalize_text`. NULL in →
    NULL out; a document with no surviving lines rebuilds to ``''``."""
    import re as _re

    lines = F.split(text, _re.escape(sep))
    kept = F.filter(lines, lambda l: c4_line_keep(
        l, min_words=min_words,
        require_terminal_punct=require_terminal_punct,
        drop_word=drop_word, policy_phrases=policy_phrases))
    return F.when(text.isNotNull(), F.array_join(kept, sep))


def c4_document_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_sentences: int = 5,
    sep: str = "\n",
    min_words: int = 3,
    require_terminal_punct: bool = True,
    drop_word: str = "javascript",
    policy_phrases: Sequence[str] = C4_POLICY_PHRASES,
) -> DataFrame:
    """The C4 DOCUMENT-level gate over line-filtered text: drop pages
    containing "lorem ipsum" (placeholder text) or a curly brace
    (leaked code/markup), and pages with fewer than ``min_sentences``
    sentences AFTER line filtering (sentences ≈ terminal-punct count in
    the kept text — the C4 "at least 5 sentences" rule). Companion to
    :func:`gopher_quality_flags`; run both and AND the verdicts for a
    C4+Gopher pipeline gate.

    Returns (id, kept_text, n_lines, n_kept_lines, n_sentences,
    has_lorem_ipsum, has_curly_brace, passes) — every sub-signal
    emitted so a rejection report is one boolean rollup away. Zero
    shuffle: one fused codegen projection, NULL text folds to ``''``
    (0 lines, fails min_sentences) so the verdict is never NULL."""
    import re as _re

    txt = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(txt)
    lines = F.split(txt, _re.escape(sep))
    kept_arr = F.filter(lines, lambda l: c4_line_keep(
        l, min_words=min_words,
        require_terminal_punct=require_terminal_punct,
        drop_word=drop_word, policy_phrases=policy_phrases))
    kept = F.array_join(kept_arr, sep)
    n_sentences = F.regexp_count(kept, F.lit(r"[.!?]"))
    has_lorem = low.contains(F.lit("lorem ipsum"))
    # EITHER bracket: the C4 recipe (Raffel et al. 2020 §2.2) removes
    # pages containing any curly bracket — a page with only '}' must
    # not slip through (ADVICE r8)
    has_brace = txt.rlike("[{}]")
    passes = (~has_lorem & ~has_brace
              & (n_sentences >= F.lit(min_sentences)))
    return df.select(
        F.col(id_col),
        kept.alias("kept_text"),
        F.size(lines).alias("n_lines"),
        F.size(kept_arr).alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_curly_brace"),
        passes.alias("passes"),
    )


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_df: DataFrame,
    target_text_col: Optional[str] = None,
    *,
    smoothing: float = 0.5,
    min_count: int = 1,
    persist_tokens: bool = False,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every raw document by how much more likely its tokens are
    under a TARGET-domain unigram LM than under the raw-corpus LM —
    ``log w(x) = Σ_tok [ln P_target(tok) − ln P_raw(tok)]`` — the
    data-selection signal for "make my 100 TB crawl look like
    Wikipedia/books": sample raw docs with probability ∝ exp(log w)
    (e.g. feed ``avg_logratio`` to :func:`~.sampling.percentile_gate`
    or use it as a :func:`~.sampling.weighted_deterministic_sample`
    weight after exponentiation).

    Both LMs share one vocabulary (the union of both corpora's tokens,
    add-``smoothing`` smoothed), so the per-token ratio is defined
    everywhere and unseen-in-target tokens get a finite penalty rather
    than -inf. Returns (id, n_tokens, sum_logratio, avg_logratio);
    docs with no tokens keep n_tokens = 0 and NULL scores.

    Scale shape: two vocabulary-sized count aggregates (map-side
    combined) + one full-outer vocab join + 1-row totals broadcast;
    scoring is ONE explode + token-keyed join of the ratio table +
    one per-doc agg — the same shape as :func:`unigram_logprob` with a
    second, dims-sized model.

    ``min_count`` cuts the ratio table to tokens with at least that
    many RAW occurrences before the scoring join — at 100 TB the union
    vocabulary is long-tailed and the cut is what keeps the table
    AQE-broadcastable. Smoothing totals are computed on the FULL vocab
    first, so surviving tokens score identically at any ``min_count``;
    only docs containing pruned tokens change (those tokens stop
    counting toward ``n_tokens`` and the ratio sums). The default 1 is
    byte-identical to no cut: target-only tokens are always dropped
    from the join table since raw docs can never contain them.

    ``persist_tokens`` persists the exploded raw-token frame feeding
    both the count aggregate and the scoring join (2 evaluations
    otherwise; released when the result is garbage-collected). Off by
    default — the exploded frame outweighs most inputs, so re-scanning
    usually beats spilling it; turn on when ``df`` is an expensive
    derived pipeline.
    """
    from .dedup import tokens_col
    from ..plans import fan_out
    from .sampling import _release_on_gc

    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    tcol = target_text_col or text_col
    raw_toks = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("tok"))
    if persist_tokens:
        from pyspark import StorageLevel
        raw_toks = raw_toks.persist(StorageLevel.MEMORY_AND_DISK)
    raw_counts = raw_toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("_cr"))
    tgt_counts = (fan_out(target_df.select(tcol))
                  .select(F.explode(tokens_col(F.col(tcol))).alias("tok"))
                  .groupBy("tok").agg(F.count(F.lit(1)).alias("_ct")))
    vocab = (raw_counts.join(tgt_counts, "tok", "full_outer")
             .select("tok",
                     F.coalesce("_cr", F.lit(0)).alias("_cr"),
                     F.coalesce("_ct", F.lit(0)).alias("_ct")))
    totals = vocab.agg(F.sum("_cr").alias("_nr"), F.sum("_ct").alias("_nt"),
                       F.count(F.lit(1)).alias("_v"))
    s = F.lit(smoothing)
    # the cut comes AFTER totals (full-vocab smoothing) and keys on raw
    # occurrences: _cr >= 1 alone already drops target-only tokens the
    # scoring join could never match, so min_count=1 changes nothing
    ratio = (vocab.filter(F.col("_cr") >= min_count)
             .crossJoin(F.broadcast(totals))
             .select("tok",
                     (F.log((F.col("_ct") + s) / (F.col("_nt") + s * F.col("_v")))
                      - F.log((F.col("_cr") + s) / (F.col("_nr") + s * F.col("_v"))))
                     .alias("_lr")))
    per_doc = (raw_toks.join(ratio, "tok")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum("_lr").alias("sum_logratio"),
                    F.avg("_lr").alias("avg_logratio")))
    out = (df.select(id_col).join(per_doc, id_col, "left")
           .select(F.col(id_col),
                   F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                   F.col("sum_logratio"), F.col("avg_logratio")))
    return _release_on_gc(out, raw_toks) if persist_tokens else out


def zipf_fit(
    df: DataFrame,
    text_col: str,
    *,
    top_n: int = 1000,
) -> DataFrame:
    """Zipf power-law diagnostics of the corpus token-frequency
    spectrum: OLS fit of ``ln(count) = intercept + slope·ln(rank)``
    over the ``top_n`` most frequent tokens. Natural-language corpora
    sit near slope ≈ −1 (Zipf's law); a much flatter slope signals
    boilerplate/templated text dominating the corpus, a much steeper
    one signals collapsed vocabulary (e.g. deduplication gone wrong or
    spam floods) — a one-row corpus health check to trend across
    pipeline stages.

    Returns ONE row: ``n_vocab`` (distinct tokens), ``n_tokens``
    (total), ``n_fit`` (= min(top_n, n_vocab)), ``slope``,
    ``intercept``, ``r2``.

    Scale shape: one token-count groupBy (map-side combined, vocab-
    sized), then a distributed sort-limit top-k
    (TakeOrderedAndProject — no global sort, no single-task window
    over the vocabulary); only the ``top_n`` surviving rows see a
    row_number, and the OLS moments are one tiny aggregate. Ties at
    the cut rank deterministically ((count DESC, token ASC) both in
    the limit and the rank), so the fitted set is engine-invariant.
    """
    from .dedup import tokens_col
    from ..plans import fan_out

    if top_n < 2:
        raise ValueError("top_n must be >= 2 for a regression fit")
    toks = fan_out(df.select(text_col)).select(
        F.explode(tokens_col(F.col(text_col))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(F.count(F.lit(1)).alias("n_vocab"),
                        F.sum("cnt").alias("n_tokens"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(top_n)
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"))
    fit = xy.agg(
        F.count(F.lit(1)).alias("n_fit"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    n = F.col("n_fit").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    slope = cov / varx
    return (fit.crossJoin(F.broadcast(totals))
            .select("n_vocab", "n_tokens", "n_fit",
                    slope.alias("slope"),
                    ((F.col("sy") - slope * F.col("sx")) / n)
                    .alias("intercept"),
                    F.when(vary > 0, cov * cov / (varx * vary))
                    .otherwise(F.lit(1.0)).alias("r2")))


def token_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document token-distribution entropy — the repetitiveness
    signal the Gopher/RefinedWeb family uses alongside duplicate-line
    fractions: templated/spam documents reuse few tokens (low entropy),
    natural prose spreads mass (entropy near its ln(n_distinct) cap).
    Returns (id, n_tokens, n_distinct, token_entropy, norm_entropy)
    where ``token_entropy = -Σ p_t ln p_t`` over the doc's own token
    frequencies and ``norm_entropy`` divides by ln(n_distinct) into
    [0, 1] (1-distinct-token docs get 0; empty/NULL text gets NULLs).

    Scale shape: one explode + (doc, token) count agg + per-doc entropy
    agg — both map-side combined, keyed by doc so the shuffles carry
    (doc, token) rows, linear in corpus tokens; no per-doc quadratic
    HOF over distinct tokens.
    """
    from ..plans import fan_out

    # _tokens (empty-filtered), not dedup.tokens_col: splitting "" gives
    # [""] and the phantom token would report empty/whitespace docs as
    # 1-token documents instead of the documented NULLs (review fix)
    toks = (fan_out(df.select(id_col, text_col))
            .select(F.col(id_col),
                    F.explode(_tokens(F.col(text_col))).alias("__tok")))
    tc = toks.groupBy(id_col, "__tok").agg(F.count(F.lit(1)).alias("__c"))
    ent = (tc.groupBy(id_col)
           .agg(F.sum("__c").alias("n_tokens"),
                F.count(F.lit(1)).alias("n_distinct"),
                (-F.sum(F.col("__c") * F.log(F.col("__c")))).alias("__sclc"))
           # H = ln(N) - (1/N)·Σ c·ln c  (exact algebraic rearrangement
           # of -Σ (c/N)·ln(c/N) — one pass, no second division join)
           .withColumn("token_entropy",
                       F.log("n_tokens")
                       + F.col("__sclc") / F.col("n_tokens"))
           .withColumn("norm_entropy",
                       F.when(F.col("n_distinct") > 1,
                              F.col("token_entropy")
                              / F.log("n_distinct"))
                       .otherwise(F.lit(0.0)))
           .drop("__sclc"))
    return (df.select(id_col).join(ent, id_col, "left"))


def readability(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Flesch reading-ease per document — the classic
    words-per-sentence × syllables-per-word readability score
    (``206.835 − 1.015·W/S − 84.6·Y/W``), a cheap fluency prior for
    corpus filtering: gibberish and keyword-stuffed pages score far
    off the natural-prose band. Syllables are approximated by vowel
    GROUPS (``[aeiouy]+``, min 1 per word) — the standard
    dictionary-free heuristic; treat the score as a ranking signal,
    not a calibrated grade level (and an English-centric one).

    Returns (id, n_words, n_sentences, n_syllables, flesch); docs with
    no words keep NULL scores. Zero shuffle — one higher-order-function
    projection folded into the scan.
    """
    words = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: t != "")
    sents = F.size(F.filter(
        F.split(F.col(text_col), r"[.!?]+"),
        lambda s: F.trim(s) != ""))
    syl = F.aggregate(
        F.transform(
            words,
            lambda w: F.greatest(
                F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0)),
                F.lit(1)).cast("long")),
        F.lit(0).cast("long"), lambda a, v: a + v)
    nw = F.size(words)
    ns = F.greatest(sents, F.lit(1))  # a fragment with no .!? is 1 sentence
    flesch = (F.lit(206.835)
              - F.lit(1.015) * nw / ns
              - F.lit(84.6) * syl / nw)
    return df.select(
        F.col(id_col),
        nw.alias("n_words"),
        F.when(nw > 0, ns).alias("n_sentences"),
        F.when(nw > 0, syl).alias("n_syllables"),
        F.when(nw > 0, flesch).alias("flesch"))


def ngram_overlap(
    df: DataFrame,
    id_col: str,
    ref_col: str,
    cand_col: str,
    *,
    n: int = 2,
) -> DataFrame:
    """ROUGE-N style n-gram overlap between a reference and a candidate
    text column (Lin 2004) — the summarization/extraction eval metric
    at corpus scale, and a contamination screen for (train, eval) text
    pairs: per row the MULTISET n-gram match count
    ``m = Σ_g min(count_ref(g), count_cand(g))`` with

    - ``recall`` = m / |ref n-grams|  (ROUGE-N proper),
    - ``precision`` = m / |cand n-grams|,
    - ``f1`` = 2m / (|ref| + |cand|)  (algebraically 2PR/(P+R), kept
      in the one-division int/int form so both engines compute the
      same correctly-rounded double).

    Tokens are whitespace-split after lower+trim; a side with fewer
    than ``n`` tokens has no n-grams and its ratio is NULL (and f1 is
    NULL only when BOTH sides are empty). NULL texts behave as empty.

    Scale shape: relational multiset intersection, NOT a per-row
    quadratic HOF fold (interpreted array lambdas are O(L²) per row —
    minutes per partition on book-length docs): ONE projection builds
    both gram arrays and a tagged map-explode streams both sides
    through a single (id, gram) count with conditional per-side sums
    (map-side combined), then one id-keyed re-agg takes
    ``Σ least(count_ref, count_cand)`` over grams present on BOTH
    sides. The r16 rework: the previous shape planted the gram-build
    projection THREE times (sizes + per-side counts) and paid an
    (id, gram) join; now the heavy gram build runs once, the side
    counts never join (conditional aggregation), and the sizes frame
    re-tokenizes only (``n_grams == max(0, n_tokens - (n-1))`` by
    construction — no gram strings needed). Every shuffle is
    id/gram-keyed and bounded by document length; nothing is corpus².
    """
    if n < 1:
        raise ValueError("n must be >= 1")

    def words(c):
        return F.filter(
            F.split(F.trim(F.lower(F.coalesce(F.col(c), F.lit("")))),
                    r"\s+"),
            lambda t: t != "")

    base = df.select(
        F.col(id_col).alias("__id"),
        _word_ngrams(words(ref_col), n).alias("__rg"),
        _word_ngrams(words(cand_col), n).alias("__cg"))
    # size(_word_ngrams(ws, n)) == greatest(size(ws) - (n-1), 0): one
    # gram per token start with n-1 tokens after it — computing it
    # from the token arrays skips the gram-string build entirely
    sizes = df.select(
        F.col(id_col).alias("__id"),
        F.greatest(F.size(words(ref_col)) - (n - 1),
                   F.lit(0)).alias("__nr"),
        F.greatest(F.size(words(cand_col)) - (n - 1),
                   F.lit(0)).alias("__nc"))
    # both sides through ONE codegen Generate chain: explode the
    # tagged {r: rg, c: cg} map, then each side's gram array
    grams = (base
             .select("__id",
                     F.explode(F.create_map(
                         F.lit("r"), F.col("__rg"),
                         F.lit("c"), F.col("__cg"))).alias("__s", "__a"))
             .select("__id", "__s", F.explode("__a").alias("__g")))
    counts = grams.groupBy("__id", "__g").agg(
        F.sum(F.when(F.col("__s") == "r", 1).otherwise(0)).alias("__cr"),
        F.sum(F.when(F.col("__s") == "c", 1).otherwise(0)).alias("__cc"))
    # grams on one side only contribute 0 — identical to the old
    # inner join that dropped them before sum(least(...))
    match = (counts.groupBy("__id")
             .agg(F.sum(F.when((F.col("__cr") > 0) & (F.col("__cc") > 0),
                               F.least("__cr", "__cc"))
                        .otherwise(F.lit(0).cast("long"))).alias("__m")))
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


def quantile_normalize_scores(
    df: DataFrame,
    source_col: str,
    score_col: str,
    *,
    out_col: str = "qscore",
    buckets: int | None = None,
) -> DataFrame:
    """Map a score column to its within-source quantile (ECDF value in
    (0, 1]) — the cross-source calibration step before classifier
    scores from heterogeneous sources are mixed into one sampling
    weight or gate threshold: raw score scales differ per source (a
    0.8 from one domain's classifier is not a 0.8 from another's),
    but "top 10% of its own source" composes. Adds ``out_col`` =
    cume_dist = (# rows in the source with score <= this) / n_source —
    deterministic under ties (counts, not positions). NULL scores pass
    through with NULL ``out_col`` and are excluded from every count.

    ``buckets=B`` switches to the histogram approximation for sources
    too large to sort: per-source (min, max) in one agg, a (source,
    bucket) histogram (the fold-bucket recipe drift/calibration use),
    cumulative counts over that source×B-sized frame, and a broadcast
    bucket-table join — qscore becomes the ECDF at the row's bucket
    UPPER edge, exact to within one bucket's mass. The only
    corpus-sized shuffles are map-side-combined aggregations.

    Scale contract for the exact path: one window = one SORT per
    source partition. Fine when no single source dominates; for a
    corpus where one source is half of 100 TB, pass ``buckets`` — a
    windowed sort over that source is the bottleneck the histogram
    path exists to avoid.
    """
    from pyspark.sql import Window

    src = F.col(source_col)
    x = F.col(score_col).cast("double")
    if buckets is None:
        # NOT a bare cume_dist: Spark sorts NULLs first, so cume_dist's
        # frame would count NULL-score rows in both numerator and
        # denominator, inflating every non-null row's quantile whenever
        # the source contains NULL scores. Count "non-null scores <=
        # mine" over a RANGE frame (ties share the upper value) against
        # a non-null denominator instead — NULLs excluded from every
        # count, as documented.
        wr = (Window.partitionBy(src).orderBy(x)
              .rangeBetween(Window.unboundedPreceding, Window.currentRow))
        le = F.count(x).over(wr)
        n = F.count(x).over(Window.partitionBy(src))
        return df.withColumn(
            out_col, F.when(x.isNotNull(), le.cast("double") / n))
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    b = int(buckets)
    stats = (df.filter(x.isNotNull())
             .groupBy(src.alias("__src"))
             .agg(F.min(x).alias("__lo"), F.max(x).alias("__hi"),
                  F.count(F.lit(1)).alias("__n")))
    span = F.col("__hi") - F.col("__lo")
    bucket = F.when(span > 0,
                    F.least(F.floor((x - F.col("__lo")) / span * b),
                            F.lit(b - 1))).otherwise(F.lit(0))
    with_b = (df.join(F.broadcast(stats), src == F.col("__src"), "left")
              .withColumn("__b", F.when(x.isNotNull(), bucket)))
    hist = (with_b.filter(F.col("__b").isNotNull())
            .groupBy("__src", "__b")
            .agg(F.count(F.lit(1)).alias("__c")))
    wcum = (Window.partitionBy("__src").orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, 0))
    cum = hist.withColumn("__cle", F.sum("__c").over(wcum))
    return (with_b.join(
                F.broadcast(cum.select(F.col("__src").alias("__src2"),
                                       F.col("__b").alias("__b2"),
                                       "__cle")),
                (F.col("__src") == F.col("__src2"))
                & (F.col("__b") == F.col("__b2")), "left")
            .withColumn(out_col,
                        F.when(x.isNotNull(),
                               F.col("__cle") / F.col("__n")))
            .drop("__src", "__src2", "__lo", "__hi", "__n", "__b",
                  "__b2", "__cle"))


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """ROC-AUC of a classifier score against binary labels — the
    rank-based quality gate (does the score ORDER positives above
    negatives?) complementing :func:`calibration_report` (are the
    probabilities honest?). Computed as the tie-corrected
    Mann-Whitney statistic: with average ranks over all n scored
    rows, ``AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg)`` —
    every quantity is int-derived (average ranks are half-integers),
    so the result is bit-identical cross-engine. Rows with NULL score
    or NULL label drop; labels are cast to boolean. AUC is NULL when
    either class is empty (undefined, not 0.5). One row per group
    (``group_col``, e.g. source — the per-domain QA sweep) or one row
    total: ``(n, n_pos, n_neg, auc)``.

    Scale shape: NO corpus sort — one map-side-combined groupBy
    collapses rows to the (group, score) HISTOGRAM (n, n_pos per
    distinct score); the rank window runs over that distinct-score
    frame (bounded by score cardinality, not rows), and one keyed fold
    produces the statistic. The classic sort-based AUC is exactly
    what this shape avoids at 100 TB.
    """
    x = F.col(score_col).cast("double")
    y = F.col(label_col).cast("boolean")
    g = (F.col(group_col) if group_col is not None
         else F.lit("__all")).alias("__g")
    hist = (df.filter(x.isNotNull() & y.isNotNull())
            .groupBy(g, x.alias("__s"))
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.sum(y.cast("long")).alias("__np")))
    wcum = (Window.partitionBy("__g").orderBy("__s")
            .rowsBetween(Window.unboundedPreceding, -1))
    ranked = hist.withColumn(
        "__below", F.coalesce(F.sum("__n").over(wcum), F.lit(0)))
    # average rank of every row at this score: below + (n+1)/2
    avg_rank = F.col("__below") + (F.col("__n") + 1) / 2.0
    agg = (ranked.groupBy("__g")
           .agg(F.sum("__n").alias("n"),
                F.sum("__np").alias("n_pos"),
                F.sum(F.col("__np") * avg_rank).alias("__rpos")))
    n_neg = F.col("n") - F.col("n_pos")
    auc = ((F.col("__rpos")
            - F.col("n_pos").cast("double")
            * (F.col("n_pos") + 1) / 2.0)
           / (F.col("n_pos").cast("double") * n_neg))
    out = agg.select(
        F.col("__g"), "n", "n_pos", n_neg.alias("n_neg"),
        F.when((F.col("n_pos") > 0) & (n_neg > 0), auc).alias("auc"))
    if group_col is not None:
        return out.withColumnRenamed("__g", group_col)
    return out.drop("__g")


def _pav(points):
    """Pool-Adjacent-Violators over ``[(weight, target)]`` sorted by
    score — returns the fitted non-decreasing value per input point.
    Driver-side by design: the input is the distinct-score histogram
    (model-scale), never corpus rows."""
    blocks = []  # (weight, weighted_target_sum)
    counts = []  # points per block
    for w, y in points:
        blocks.append((float(w), float(w) * float(y)))
        counts.append(1)
        while (len(blocks) >= 2
               and blocks[-2][1] / blocks[-2][0]
               > blocks[-1][1] / blocks[-1][0]):
            w2, s2 = blocks.pop()
            c2 = counts.pop()
            w1, s1 = blocks.pop()
            c1 = counts.pop()
            blocks.append((w1 + w2, s1 + s2))
            counts.append(c1 + c2)
    out = []
    for (w, s), c in zip(blocks, counts):
        out.extend([s / w] * c)
    return out


def isotonic_calibrate(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    out_col: str = "calibrated",
    max_points: int = 100_000,
    group_col: str | None = None,
) -> DataFrame:
    """Isotonic (PAV) score calibration — fit the best monotone
    non-decreasing map from classifier score to observed positive
    rate and apply it: the non-parametric fixer for the
    miscalibration :func:`calibration_report` measures (Zadrozny &
    Elkan KDD'02). Unlike Platt scaling it assumes no sigmoid shape;
    like every isotonic fit it preserves the overall positive rate
    exactly and can only improve Brier score on the fit sample.

    Returns ``df`` with ``out_col`` = the fitted probability at the
    row's score. Rows with NULL score keep NULL output and contribute
    nothing to the fit; NULL labels likewise (scored-but-unlabeled
    rows still RECEIVE a calibrated value if their score appeared in
    labeled data, else NULL — calibration is a lookup, not a guess).

    ``group_col`` fits one INDEPENDENT isotonic map per group — the
    per-source case: a length-based quality score means different
    things on different crawls, and a single global fit launders the
    per-source miscalibration the per-source :func:`roc_auc` /
    :func:`calibration_report` sweeps measure. The lookup join keys on
    (group, score); rows whose group never appeared in labeled data
    get NULL.

    Scale shape: the corpus collapses to the (distinct score → n,
    n_pos) histogram — per group when ``group_col`` is set — in ONE
    map-side-combined groupBy; PAV runs driver-side over that
    model-scale table (the BPE/EM/k-means convention for inherently
    sequential model fits) and the fitted step function broadcasts
    back as a distinct-score equi-join. ``max_points`` guards the
    collect ACROSS ALL GROUPS: continuous scores should be quantized
    upstream (e.g. ``F.round(score, 4)``) — raising beats silently
    collecting a corpus-sized "histogram".
    """
    x = F.col(score_col).cast("double")
    y = F.col(label_col).cast("boolean")
    gkeys = [group_col] if group_col else []
    hist = (df.filter(x.isNotNull() & y.isNotNull())
            .groupBy(*gkeys, x.alias("__s"))
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.sum(y.cast("long")).alias("__np")))
    pts = hist.orderBy(*gkeys, "__s").collect()
    if not pts:
        raise ValueError("isotonic_calibrate: no labeled scored rows")
    if len(pts) > max_points:
        raise ValueError(
            f"isotonic_calibrate: {len(pts)} distinct "
            f"{'(group, score) pairs' if group_col else 'scores'} "
            f"exceeds max_points={max_points} — quantize the score "
            "column upstream (e.g. round to 4 digits); collecting a "
            "corpus-sized histogram is the failure this guard exists "
            "to stop")
    spark = df.sparkSession
    if group_col:
        from itertools import groupby
        rows = []
        for g, grp in groupby(pts, key=lambda r: r[group_col]):
            grp = list(grp)
            fitted = _pav([(r["__n"], r["__np"] / r["__n"])
                           for r in grp])
            rows += [(g, float(r["__s"]), float(v))
                     for r, v in zip(grp, fitted)]
        gtype = dict(df.dtypes)[group_col]
        from ..plans import local_frame
        mapping = local_frame(
            spark, rows, f"__g {gtype}, __s double, __cal double")
        cond = (F.col(group_col).eqNullSafe(F.col("__g"))
                & x.eqNullSafe(F.col("__s")))
        return (df.join(F.broadcast(mapping), cond, "left")
                .withColumn(out_col, F.col("__cal"))
                .drop("__g", "__s", "__cal"))
    fitted = _pav([(r["__n"], r["__np"] / r["__n"]) for r in pts])
    mapping = spark.createDataFrame(
        [(float(r["__s"]), float(v)) for r, v in zip(pts, fitted)],
        "__s double, __cal double")
    return (df.join(F.broadcast(mapping), x.eqNullSafe(F.col("__s")),
                    "left")
            .withColumn(out_col, F.col("__cal"))
            .drop("__s", "__cal"))


def compression_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    level: int = 6,
    out: str = "compression_ratio",
) -> DataFrame:
    """Per-document zlib compression ratio (compressed bytes / UTF-8
    bytes) — the classic corpus-quality signal the regex heuristics
    here can't reproduce (RefinedWeb/MassiveText use it as a gate):
    BOTH tails are suspect. Very low ratio = highly repetitive text
    (boilerplate, keyword stuffing, generation loops — the cheap
    whole-corpus complement to text_repetition's n-gram rates); ratio
    near or above 1 = high-entropy non-text (base64 blobs, minified
    bundles, binary spills past the decoder). Returns
    ``(id, n_bytes, out)``; NULL text → NULL ratio, empty text →
    NULL ratio (0/0 has no signal).

    Arrow-batched ``mapInPandas`` — zlib is the justified-Python
    stage (no codegen form exists); one pass, partition-preserving,
    zero shuffle, ~GB/s/core so the scan dominates. Deterministic for
    a fixed zlib version and ``level`` (pinned by a same-library
    differential test, not a cross-engine oracle — SQL has no zlib).
    """
    if not 1 <= level <= 9:
        raise ValueError("level must be in 1..9")
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    # carry the id column's ACTUAL type through (a hardcoded LongType
    # crashes Arrow conversion for string/int doc ids)
    schema = StructType([
        StructField(id_col, df.schema[id_col].dataType),
        StructField("n_bytes", LongType()),
        StructField(out, DoubleType()),
    ])

    def batches(it):
        import zlib

        import pandas as pd
        for pdf in it:
            sizes, ratios = [], []
            for t in pdf[text_col]:
                if t is None:
                    sizes.append(None)
                    ratios.append(None)
                    continue
                raw = t.encode("utf-8")
                sizes.append(len(raw))
                ratios.append(
                    len(zlib.compress(raw, level)) / len(raw)
                    if raw else None)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_bytes": pd.array(sizes, dtype="Int64"),
                out: pd.array(ratios, dtype="float64"),
            })

    return df.select(id_col, text_col).mapInPandas(batches, schema)
