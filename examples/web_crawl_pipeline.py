"""Raw-crawl → training-shards pipeline, end to end: synthesize an HTML
crawl over the documents corpus, then run the full curation stack —
HTML stripping, text canonicalization, C4 document gates, language ID,
URL normalization + per-domain caps, exact-substring + MinHash dedup,
token-budgeted selection, curriculum + loader addressing,
balanced shard writes, and a versioned atomic publish. Every step is a
declarative DataFrame transform from the operator catalog; nothing
collects data-scale results to the driver.

    python examples/web_crawl_pipeline.py [sf_dir]
"""

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from spark_expectations_spark.operators import dedup, packing, sampling, text
from spark_expectations_spark.sinks import layout


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = Path(tempfile.mkdtemp(prefix="crawl_"))
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # 0. synthesize the crawl: every doc arrives as an HTML page with a
    #    URL (tracking params, mixed-case hosts) — the shape a WARC
    #    extraction lands in
    crawl = docs.select(
        "doc_id", "source",
        F.concat(F.lit("HTTPS://WWW.site"),
                 (F.col("doc_id") % 7).cast("string"),
                 F.lit(".com/p/"), F.col("doc_id").cast("string"),
                 F.lit("?utm_source=crawl&id="),
                 F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("<html><head><script>t()</script></head><body><p>"),
                 F.col("text"),
                 F.lit(" privacy policy terms</p><div>lorem</div>"
                       "</body></html>")).alias("html"))

    # 1. HTML -> canonical text; canonical URL + registrable domain
    p = text.url_parts(F.col("url"))
    staged = crawl.select(
        "doc_id", "source",
        text.normalize_text(text.strip_html(F.col("html"))).alias("text"),
        text.url_normalize(F.col("url")).alias("url"),
        text.registered_domain(p["host"]).alias("domain"))
    # lineage cut: the regex-heavy extraction feeds a dozen downstream
    # stages — checkpoint once so Catalyst plans stay bounded
    staged = staged.localCheckpoint(eager=True)
    print("staged:", staged.count(), "pages;",
          staged.select("domain").distinct().count(), "domains")

    # 2. per-domain politeness cap: at most 60 pages per domain,
    #    deterministic pick
    capped = sampling.sample_per_group(staged, ["domain"], "doc_id", 60)
    print("domain cap kept:", capped.count())

    # 2b. crawl-frontier membership: "have we fetched this URL in any
    # previous crawl batch?" at a fixed few-MB state size — a Bloom
    # filter updated per batch (False = provably new; True may be a
    # false positive at the fill-controlled rate). Here: replay the
    # crawl as two batches and count re-sightings.
    from spark_expectations_spark import streaming as st
    bloom_state = tempfile.mkdtemp(prefix="crawl_bloom_")
    step = st.bloom_membership_stream(bloom_state, "url",
                                      n_bits=1 << 16, k=4)
    half = capped.filter(F.col("doc_id") % 2 == 0)
    step(half, 0)
    rest = capped  # second batch overlaps the first half entirely
    # probe-only view: read state, annotate without writing
    from spark_expectations_spark.operators import sketches
    words = (capped.sparkSession.read.parquet(bloom_state)
             .groupBy("word").agg(F.bit_or("bits").alias("bits")))
    annotated = sketches.bloom_might_contain(
        words, rest, "url", n_bits=1 << 16, k=4, salt="bloomstream")
    n_seen = annotated.filter("might_contain").count()
    print(f"frontier filter: {n_seen} of {rest.count()} URLs already "
          f"fetched in batch 0 (state: "
          f"{words.count()} words ≈ {words.count() * 12} bytes)")

    # 3. quality gates: C4 doc rules + Gopher composite + language
    c4 = text.c4_document_flags(capped, "doc_id", "text",
                                min_sentences=0,
                                require_terminal_punct=False,
                                min_words=2)
    keep_ids = c4.filter(~F.col("has_curly_brace")
                         & ~F.col("has_lorem_ipsum")).select("doc_id")
    gated = capped.join(keep_ids, "doc_id", "left_semi")
    gated = gated.withColumn("lang", text.language_id(F.col("text")))
    print("after C4 doc gate:", gated.count())

    # 4. dedup ladder: exact-substring span removal (keep-first), then
    #    MinHash near-dup doc drop. (paragraph_dedup wants real "\n\n"
    #    paragraphs — at word granularity on a tiny-vocab corpus it
    #    would excise nearly every token, so it has no place here.)
    srm = dedup.remove_dup_spans(gated, "doc_id", "text", n=8)
    srm = srm.select("doc_id", "source", "domain", "lang",
                     F.col("dedup_text").alias("text")) \
        .localCheckpoint(eager=True)
    pairs = dedup.minhash_dedup_pairs(srm, "doc_id", "text",
                                      threshold=0.6)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    deduped = srm.join(losers, "doc_id", "left_anti")
    print("dedup ladder kept:", deduped.count())

    # 5. quality-weighted selection under a token budget per source
    scored = deduped.withColumn("q", text.quality_score(F.col("text"))) \
        .withColumn("tokens", text.token_count(F.col("text")))
    budgeted = sampling.token_budget_sample(
        scored, "source", "doc_id", "tokens", budget=100_000)
    print("token budget kept:",
          budgeted.agg(F.sum("tokens")).first()[0], "tokens")

    # 6. loader addressing: curriculum stages by quality, then dense
    #    global ids for resumable bookmarks
    addressed = sampling.curriculum_order(
        budgeted.withColumn("qi", (F.col("q") * 1e6).cast("long")),
        "doc_id", "qi", num_shards=4)
    addressed = sampling.dense_global_index(
        addressed, ["stage", "shard", "pos"], num_buckets=8)
    print("stages:", addressed.select("stage").distinct().count(),
          "max id:", addressed.agg(F.max("global_id")).first()[0])

    # 7. balanced shards + atomic versioned publish
    final = addressed.select("doc_id", "source", "domain", "lang",
                             "text", "tokens", "stage", "global_id")
    packing.write_training_shards(final, str(out / "shards"),
                                  n_shards=4, key_col="doc_id")
    v = layout.publish_version(spark.read.parquet(str(out / "shards")),
                               str(out / "published"))
    cur = layout.read_current(spark, str(out / "published"))
    print(f"published v{v}: {cur.count()} rows, "
          f"{len(cur.inputFiles())} files")
    spark.stop()


if __name__ == "__main__":
    main()
