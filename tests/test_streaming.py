"""Structured Streaming ingest tests: streaming extraction must produce
exactly the batch results; watermarked windows must aggregate."""

import pytest
from pyspark.sql import functions as F

from closure_html_spark.spark.pages import pages_from_documents
from closure_html_spark.spark.streaming import (
    read_pages_stream,
    stream_extract,
    stream_host_rates,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def staged_pages(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pages_in")
    pages = pages_from_documents(spark, SF)
    pages.repartition(4).write.mode("overwrite").parquet(str(d))
    return str(d), pages.count()


def test_stream_extract_matches_batch(spark, staged_pages, tmp_path_factory):
    input_dir, n = staged_pages
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = stream_extract(spark, input_dir, out, ckpt, available_now=True)
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    assert got.count() == n
    # streaming result values identical to batch invariant
    bad = got.join(
        spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text"),
        "doc_id").filter(F.col("main_text") != F.col("text")).count()
    assert bad == 0

    # resume: restart with same checkpoint, nothing new -> no duplicates
    q2 = stream_extract(spark, input_dir, out, ckpt, available_now=True)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n


def test_stream_host_rates_watermark(spark, staged_pages, tmp_path_factory):
    input_dir, n = staged_pages
    ckpt = str(tmp_path_factory.mktemp("ckpt2"))
    stream = read_pages_stream(spark, input_dir)
    # warc_ts spans ~8.3 min (doc_id seconds); a 2-min watermark finalizes
    # all but the trailing windows -- append mode emits ONLY finalized ones
    rates = stream_host_rates(stream, window="1 minute",
                              watermark="2 minutes")
    q = (rates.writeStream.format("memory").queryName("rates")
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.sql("select * from rates")
    total = got.agg(F.sum("n_pages")).collect()[0][0]
    # all-but-trailing-2-minutes emitted: strictly positive, never more than n
    assert total is not None and 0 < total <= n
    hosts = {r["host"] for r in got.select("host").distinct().collect()}
    assert "host0.example" in hosts
    assert got.filter(F.col("win.start").isNull()).count() == 0


def test_stream_dedup_urls_stateful(spark, tmp_path_factory):
    """applyInPandasWithState first-seen dedup: duplicates inside a batch
    AND across restarts (state from checkpoint) are dropped."""
    from pyspark.sql import functions as F

    from closure_html_spark.spark.streaming import stream_dedup

    in_dir = str(tmp_path_factory.mktemp("dedup_in"))
    out_dir = str(tmp_path_factory.mktemp("dedup_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_ckpt"))

    pages = pages_from_documents(spark, SF).select("url", "warc_ts", "html")
    # wave 1: every url twice
    pages.unionAll(pages).repartition(4).write.mode("append").parquet(in_dir)
    n_unique = pages.count()

    def run():
        stream = (spark.readStream
                  .schema("url string, warc_ts timestamp, html binary")
                  .parquet(in_dir))
        dedup = stream_dedup(stream, key_col="url", n_groups=8)
        q = (dedup.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    run()
    got = spark.read.parquet(out_dir)
    assert got.count() == n_unique
    assert got.select("url").distinct().count() == n_unique

    # wave 2: same urls again + 100 genuinely new ones
    new = pages.limit(100).withColumn(
        "url", F.concat(F.col("url"), F.lit("?new=1")))
    pages.unionAll(new).repartition(4).write.mode("append").parquet(in_dir)
    run()
    got = spark.read.parquet(out_dir)
    assert got.count() == n_unique + 100, "cross-restart state failed"
    assert got.select("url").distinct().count() == n_unique + 100


def test_stream_dedup_by_content_key(spark, tmp_path_factory):
    """stream_dedup generalizes to any key column: keyed on a content
    hash, mirrored pages under different urls dedup to one emission."""
    from datetime import datetime

    from closure_html_spark.spark.streaming import stream_dedup

    in_dir = str(tmp_path_factory.mktemp("cdedup_in"))
    out_dir = str(tmp_path_factory.mktemp("cdedup_out"))
    ckpt = str(tmp_path_factory.mktemp("cdedup_ckpt"))

    ts = datetime(2024, 1, 1)
    rows = [(f"https://m{i}.example/p", ts,
             bytearray(f"<p>content {i % 10}</p>".encode()))
            for i in range(50)]  # 50 urls, only 10 distinct bodies
    spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary") \
        .repartition(1).write.mode("append").parquet(in_dir)

    stream = (spark.readStream
              .schema("url string, warc_ts timestamp, html binary")
              .parquet(in_dir))
    keyed = stream.withColumn("ck", F.xxhash64("html"))
    q = (stream_dedup(keyed, key_col="ck", n_groups=4)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir)
    assert got.count() == 10
    assert got.select(F.xxhash64("html")).distinct().count() == 10


def test_stream_sessionize_stateful(spark, tmp_path_factory):
    """applyInPandasWithState event-time sessionization: sessions close
    when the data shows a gap > 30 min, including gaps that SPAN a
    restart (open-session state from the checkpoint)."""
    from datetime import datetime

    from closure_html_spark.spark.streaming import stream_sessionize

    in_dir = str(tmp_path_factory.mktemp("sess_in"))
    out_dir = str(tmp_path_factory.mktemp("sess_out"))
    ckpt = str(tmp_path_factory.mktemp("sess_ckpt"))

    def ts(h, m):
        return datetime(2024, 1, 1, h, m)

    def run():
        stream = (spark.readStream.schema("user_id long, ts timestamp")
                  .parquet(in_dir))
        q = (stream_sessionize(stream, gap_minutes=30)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    # wave 1: user 1 has two sessions (gap 09:10 -> 10:00 > 30 min); the
    # second stays OPEN; user 2 has one open session
    wave1 = [(1, ts(9, 0)), (1, ts(9, 10)), (1, ts(10, 0)), (1, ts(10, 5)),
             (2, ts(9, 30))]
    spark.createDataFrame(wave1, "user_id long, ts timestamp") \
        .repartition(2).write.mode("append").parquet(in_dir)
    run()
    got = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {(1, ts(9, 0), ts(9, 10), 2)}, got

    # wave 2: user 1's 11:00 event closes the open 10:00-10:05 session
    # (state crossed the restart); user 2's 09:40 extends, then 12:00
    # closes 09:30-09:40
    wave2 = [(1, ts(11, 0)), (2, ts(9, 40)), (2, ts(12, 0))]
    spark.createDataFrame(wave2, "user_id long, ts timestamp") \
        .repartition(2).write.mode("append").parquet(in_dir)
    run()
    got = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {(1, ts(9, 0), ts(9, 10), 2),
                   (1, ts(10, 0), ts(10, 5), 2),
                   (2, ts(9, 30), ts(9, 40), 2)}, got

    # wave 3: out-of-order straggler. user 2's open session is 12:00; an
    # 11:50 straggler must MERGE (extend start backwards, last_ts must not
    # regress), then 13:00 closes 11:50-12:00 -- never an inverted
    # session_end < session_start and never a false split
    wave3 = [(2, ts(11, 50)), (2, ts(13, 0))]
    spark.createDataFrame(wave3, "user_id long, ts timestamp") \
        .repartition(1).write.mode("append").parquet(in_dir)
    run()
    got = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
           for r in spark.read.parquet(out_dir).collect()}
    assert (2, ts(11, 50), ts(12, 0), 2) in got, got
    assert all(s <= e for _, s, e, _ in got), got


def test_stream_frontier(spark, staged_pages, tmp_path_factory):
    """Composed crawl-frontier loop: pages stream -> links-only extract ->
    resolve+canonicalize -> Bloom first-seen dedup.  Template 0 pages link
    to /, /about, /c, so wave 1 must emit exactly 3 canonical urls per
    distinct host; re-feeding the same pages across a restart emits
    nothing new; a page on a brand-new host adds exactly 3."""
    from closure_html_spark.spark.streaming import stream_frontier

    input_dir, _ = staged_pages
    in_dir = str(tmp_path_factory.mktemp("frontier_in"))
    out_dir = str(tmp_path_factory.mktemp("frontier_out"))
    ckpt = str(tmp_path_factory.mktemp("frontier_ckpt"))
    # copy wave 1 in (staged_pages dir is shared with other tests)
    spark.read.parquet(input_dir).write.mode("append").parquet(in_dir)
    n_hosts = (spark.read.parquet(input_dir)
               .select(F.regexp_extract("url", r"https://([^/]+)/", 1))
               .distinct().count())

    def run():
        stream = (spark.readStream
                  .schema("url string, warc_ts timestamp, html binary, "
                          "text string, lang string, doc_id long")
                  .parquet(in_dir))
        q = (stream_frontier(stream, n_groups=8)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    run()
    got = spark.read.parquet(out_dir)
    assert got.count() == 3 * n_hosts, (got.count(), n_hosts)
    assert got.select("url").distinct().count() == 3 * n_hosts
    # canonicalization: "/" collapses to the bare origin (trailing slash
    # stripped), "/about" keeps its path
    urls = {r["url"] for r in got.collect()}
    assert any(u.endswith(".example") for u in urls)
    assert any(u.endswith("/about") for u in urls)

    # wave 2: same pages again (re-crawl) + one page on a new host
    spark.read.parquet(input_dir).write.mode("append").parquet(in_dir)
    new_page = [("https://brandnew.example/d/p.html", None,
                 bytearray(b'<html><body><a href="/x">x</a>'
                           b'<a href="https://brandnew.example/y">y</a>'
                           b'<a href="/x#frag">dup after canon</a>'
                           b'<a href="sub/page.html">doc-relative</a>'
                           b'<a href="../x">parent-relative dup of /x</a>'
                           b'<a href="javascript:void(0)">dropped</a>'
                           b'<a href="mailto:a@b.c">dropped</a>'
                           b'</body></html>'), "", "en", 10**9)]
    spark.createDataFrame(
        new_page, "url string, warc_ts timestamp, html binary, "
                  "text string, lang string, doc_id long") \
        .write.mode("append").parquet(in_dir)
    run()
    got = spark.read.parquet(out_dir)
    # only 3 canonical urls of the new host are new: /x (fragment and
    # ../x variants collapse onto it), /y, and the RFC-resolved
    # /d/sub/page.html; the javascript:/mailto: links are dropped
    assert got.count() == 3 * n_hosts + 3, got.count()
    urls = {r["url"] for r in got.collect()}
    assert "https://brandnew.example/d/sub/page.html" in urls


def test_stream_sessionize_watermark_drops_stragglers(spark,
                                                      tmp_path_factory):
    """watermark= variant: an event older than the checkpointed event-time
    watermark is DROPPED (bounded-late-data semantics) instead of merging
    into -- and falsely widening -- the current open session."""
    from datetime import datetime

    from closure_html_spark.spark.streaming import stream_sessionize

    in_dir = str(tmp_path_factory.mktemp("wsess_in"))
    out_dir = str(tmp_path_factory.mktemp("wsess_out"))
    ckpt = str(tmp_path_factory.mktemp("wsess_ckpt"))

    def ts(h, m):
        return datetime(2024, 1, 1, h, m)

    def run():
        stream = (spark.readStream.schema("user_id long, ts timestamp")
                  .parquet(in_dir))
        q = (stream_sessionize(stream, gap_minutes=30,
                               watermark="10 minutes")
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    # wave 1: closes 09:00-09:10, leaves 12:00 open; the checkpointed
    # watermark after this run = max event time - 10 min = 11:50
    wave1 = [(1, ts(9, 0)), (1, ts(9, 10)), (1, ts(12, 0))]
    spark.createDataFrame(wave1, "user_id long, ts timestamp") \
        .repartition(1).write.mode("append").parquet(in_dir)
    run()

    # wave 2: 10:00 is beyond the 11:50 watermark -> dropped; 12:05
    # extends the open session; 14:00 closes it.  Without the drop, the
    # straggler would widen the session to (10:00, 12:05, 3)
    wave2 = [(1, ts(10, 0)), (1, ts(12, 5)), (1, ts(14, 0))]
    spark.createDataFrame(wave2, "user_id long, ts timestamp") \
        .repartition(1).write.mode("append").parquet(in_dir)
    run()
    got = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
           for r in spark.read.parquet(out_dir).collect()}
    assert (1, ts(9, 0), ts(9, 10), 2) in got, got
    assert (1, ts(12, 0), ts(12, 5), 2) in got, got
    assert not any(s == ts(10, 0) for _, s, _, _ in got), \
        f"beyond-watermark straggler was not dropped: {got}"


def test_stream_frontier_with_robots(spark, staged_pages, tmp_path_factory):
    """robots= option: a static robots side disallowing /about for '*'
    (plus an evilbot Disallow:/ canary group) drops that path from the
    frontier stream -- 2 urls per host instead of 3 -- while the Bloom
    dedup still runs exactly-once under availableNow."""
    from closure_html_spark.spark.streaming import stream_frontier

    input_dir, _ = staged_pages
    in_dir = str(tmp_path_factory.mktemp("rfrontier_in"))
    out_dir = str(tmp_path_factory.mktemp("rfrontier_out"))
    ckpt = str(tmp_path_factory.mktemp("rfrontier_ckpt"))
    spark.read.parquet(input_dir).write.mode("append").parquet(in_dir)
    hosts = (spark.read.parquet(input_dir)
             .select(F.regexp_extract("url", r"https://([^/]+)/", 1)
                     .alias("host")).distinct())
    n_hosts = hosts.count()
    robots = hosts.select(
        "host",
        F.lit("User-agent: evilbot\nDisallow: /\n\n"
              "User-agent: *\nDisallow: /about\n").alias("robots"))

    stream = (spark.readStream
              .schema("url string, warc_ts timestamp, html binary, "
                      "text string, lang string, doc_id long")
              .parquet(in_dir))
    q = (stream_frontier(stream, n_groups=8, robots=robots)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir)
    urls = {r["url"] for r in got.collect()}
    assert got.count() == 2 * n_hosts, (got.count(), n_hosts)
    assert not any(u.endswith("/about") for u in urls)
    assert any(u.endswith("/c") for u in urls)  # other paths survive


def test_stream_dedup_bloom_fpr_matches_formula(spark, tmp_path_factory):
    """Round-6 verdict #6: the constant-size Bloom state's false-drop
    rate is CLAIMED as (1 - exp(-k*n/m))^k (k=4) in the stream_dedup
    docstring/SCALE.md; this pins the observed rate against the formula
    with the REAL operator end-to-end.

    Wave 1 inserts ~n unique keys into ONE group with a deliberately
    small filter (m = 16384 bits) so the fill is deep; wave 2 probes
    2048 DISJOINT fresh keys -- every non-emitted probe is a false
    drop.  At n/m ~= 1/4 the formula predicts ~16% FPR, so 2048 probes
    give tight statistics (sigma ~ 0.8%); the assertion band is
    +/-40% relative, wide enough for hash-collision variance, far too
    tight for a broken k or index pipeline (k=3 would read ~25%, k=5
    ~10%, a single-index bloom ~63%)."""
    import math

    from closure_html_spark.spark.streaming import stream_dedup

    in_dir = str(tmp_path_factory.mktemp("fpr_in"))
    out_dir = str(tmp_path_factory.mktemp("fpr_out"))
    ckpt = str(tmp_path_factory.mktemp("fpr_ckpt"))
    m_bits, k = 1 << 14, 4

    def wave(prefix, n):
        (spark.range(n)
         .select(F.concat(F.lit(prefix), F.col("id").cast("string"))
                 .alias("url"),
                 F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                 .alias("warc_ts"),
                 F.encode(F.lit("x"), "utf-8").alias("html"))
         .repartition(2).write.mode("append").parquet(in_dir))

    def run():
        stream = (spark.readStream
                  .schema("url string, warc_ts timestamp, html binary")
                  .parquet(in_dir))
        q = (stream_dedup(stream, n_groups=1, m_bits=m_bits)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    wave("k", 4096)
    run()
    inserted = spark.read.parquet(out_dir).count()  # keys actually set
    assert inserted > 3000  # fill must be deep enough to measure

    wave("p", 2048)
    run()
    emitted2 = spark.read.parquet(out_dir).count() - inserted
    observed = 1.0 - emitted2 / 2048.0
    predicted = (1.0 - math.exp(-k * inserted / m_bits)) ** k
    assert abs(observed - predicted) <= 0.4 * predicted, \
        f"observed FPR {observed:.4f} vs formula {predicted:.4f} " \
        f"(n={inserted}, m={m_bits}, k={k})"


def test_stream_cardinality_matches_batch_registers(spark,
                                                    tmp_path_factory):
    """Streaming HLL: (a) the estimate after each wave tracks the true
    distinct count within the sketch's error band; (b) re-ingesting the
    SAME keys does not move the estimate (merge = max is idempotent);
    (c) the streamed register summaries are IDENTICAL to a batch
    recompute over the union of all ingested data -- the determinism
    claim that makes the sketch auditable."""
    from pyspark.sql import functions as F

    from closure_html_spark.spark.streaming import (
        hll_estimate, stream_cardinality)

    in_dir = str(tmp_path_factory.mktemp("card_in"))
    out_dir = str(tmp_path_factory.mktemp("card_out"))
    ckpt = str(tmp_path_factory.mktemp("card_ckpt"))

    def urls(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("https://h"), (F.col("id") % 97).cast("string"),
                     F.lit(".example/p"), F.col("id").cast("string"))
            .alias("url"))

    def run():
        stream = spark.readStream.schema("url string").parquet(in_dir)
        q = (stream_cardinality(stream, n_groups=8)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    def latest_estimate():
        import pandas as pd
        got = spark.read.parquet(out_dir).toPandas()
        # batch id is implicit in file order; the LATEST row per grp has
        # the max n_present (registers only ever grow under max-merge)
        rows = (got.sort_values(["grp", "n_present"])
                .groupby("grp").last().reset_index()
                .to_dict("records"))
        return hll_estimate(rows), rows

    urls(0, 4000).repartition(2).write.mode("append").parquet(in_dir)
    run()
    est1, _ = latest_estimate()
    assert abs(est1 - 4000) / 4000 < 0.15, est1

    # wave 2: all duplicates -- estimate must not move
    urls(0, 4000).repartition(2).write.mode("append").parquet(in_dir)
    run()
    est2, _ = latest_estimate()
    assert est2 == est1, (est2, est1)

    # wave 3: 4000 new keys across a restart (state from checkpoint)
    urls(4000, 8000).repartition(2).write.mode("append").parquet(in_dir)
    run()
    est3, rows = latest_estimate()
    assert abs(est3 - 8000) / 8000 < 0.15, est3

    # determinism: streamed register summaries == batch recompute
    m, n_groups = 1 << 10, 8
    md5 = F.md5(F.col("url"))
    h_hi = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    h_lo = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
    batch = (urls(0, 8000)
             .select((h_lo % m).alias("reg"),
                     F.when(h_hi == 0, 33)
                     .otherwise(33 - F.length(F.bin(h_hi))).alias("rho"))
             .groupBy("reg").agg(F.max("rho").alias("mx")))
    import collections
    per_grp = collections.defaultdict(lambda: [0, 0.0])
    n_local = m // n_groups
    mx = {r["reg"]: r["mx"] for r in batch.collect()}
    for g in range(n_groups):
        present = [mx[r] for r in range(g, m, n_groups) if r in mx]
        per_grp[g][0] = len(present)
        per_grp[g][1] = sum(2.0 ** -v for v in present) \
            + (n_local - len(present))
    for r in rows:
        g = r["grp"]
        assert r["n_present"] == per_grp[g][0], g
        assert abs(r["sum_inv"] - per_grp[g][1]) < 1e-12, g


def test_hll_estimator_twins_agree(spark):
    """streaming.hll_estimate and relational.q_vocab_hll implement the
    same estimator in two places (Python vs column expressions); feeding
    the streaming combiner the batch sketch's own state must reproduce
    the batch estimate exactly -- pinning the twins against drift."""
    from closure_html_spark.spark import relational as R
    from closure_html_spark.spark.streaming import hll_estimate

    SF = "/root/testdata/sf0.001"
    row = R.q_vocab_hll(spark, SF).collect()[0]
    # one synthetic group holding the whole register file; sum_inv
    # already includes the zero registers' 2^0 terms
    groups = [{"n_present": row["m"] - row["zero_registers"],
               "sum_inv": row["sum_inv"]}]
    est = hll_estimate(groups, p=10)
    assert round(est, 3) == row["est_distinct"], (est, row)


def test_hll_estimate_absent_groups_and_empty():
    """A group that never received a key emits no row; without
    correction its zero registers' 2^0 terms drop out of sum_inv and
    inflate the estimate.  Passing n_groups credits absent groups their
    all-zero slices: combining k present groups + (n-k) absent ones
    must equal the estimate over the full register file; an empty row
    list is 0.0, not a ZeroDivisionError."""
    from closure_html_spark.spark.streaming import hll_estimate

    p, n_groups = 10, 8
    m = 1 << p
    n_local = m // n_groups
    # synthetic sketch: groups 0-2 saw keys, 3-7 never did
    present_groups = [
        {"grp": g, "n_present": 40 + g,
         "sum_inv": sum(2.0 ** -(1 + (i % 5)) for i in range(40 + g))
         + (n_local - (40 + g))}
        for g in range(3)
    ]
    absent_rows = [{"grp": g, "n_present": 0, "sum_inv": float(n_local)}
                   for g in range(3, n_groups)]
    full = hll_estimate(present_groups + absent_rows, p=p)
    corrected = hll_estimate(present_groups, p=p, n_groups=n_groups)
    assert corrected == full
    # without the correction the estimate is inflated
    assert hll_estimate(present_groups, p=p) > full
    # empty sketch: no rows at all
    assert hll_estimate([], p=p, n_groups=n_groups) == 0.0
    assert hll_estimate([], p=p) == 0.0
