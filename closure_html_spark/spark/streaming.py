"""Structured Streaming ingest mode (SURVEY.md §2.10 "streaming").

The extraction stage is stateless per document, so the streaming pipeline
is: file-source readStream over arriving `pages` parquet -> the SAME
Arrow-batched extraction mapInArrow used in batch mode -> parquet sink
with checkpointing.  Exactly-once comes from the file-source + checkpoint
combination; no stateful operator is needed for parse itself.

Stateful layer: `stream_host_rates` shows the watermarked windowed
aggregation pattern (late data bounded by the watermark) for per-host
ingest monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract_pages

PAGES_DDL = ("url string, warc_ts timestamp, html binary, text string, "
             "lang string, doc_id long")


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream
            .schema(PAGES_DDL)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_dir))


def stream_extract(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str, available_now: bool = True):
    """Start the streaming extraction job; returns the StreamingQuery.
    available_now=True drains everything currently in input_dir and stops
    (the batch-backfill trigger); False runs continuously."""
    pages = read_pages_stream(spark, input_dir)
    ext = extract_pages(pages, id_cols=("url", "doc_id"))
    writer = (ext.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_host_rates(pages: DataFrame, window: str = "1 minute",
                      watermark: str = "10 minutes") -> DataFrame:
    """Watermarked per-host page-rate windows (late data beyond the
    watermark is dropped; append mode emits finalized windows only)."""
    host = F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")
    return (pages
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("win"), host)
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum(F.length("html")).alias("bytes_in")))


def stream_sessionize(events: DataFrame, gap_minutes: int = 30,
                      watermark: str | None = None) -> DataFrame:
    """Custom stateful streaming operator #2 (applyInPandasWithState):
    event-time sessionization with data-driven closure.

    Per user, consecutive events less than `gap_minutes` apart belong to
    one session; an event arriving after a longer gap CLOSES the previous
    session (emitting one row) and starts a new one.  Closure is driven by
    the data itself, not a wall-clock timeout, so results are deterministic
    and restart-safe: the open session (start, last_ts, n_events) lives in
    the state store and survives checkpoint/restart; a later wave of
    events keeps extending or closes it exactly as if the stream never
    stopped.

    Out-of-order events ACROSS triggers (there is no watermark): an event
    older than the open session's last_ts is merged into that session --
    last_ts never regresses (max), and the session start extends backwards
    (min) -- so a straggler can widen the open session but can never
    falsely split it or emit session_end < session_start.  Once a session
    has been CLOSED and emitted, a straggler that would have belonged to it
    starts/joins the current session instead -- UNLESS `watermark` is set
    (e.g. "10 minutes"): then events.withWatermark("ts", watermark) bounds
    late data, and any event whose ts is older than the current event-time
    watermark is DROPPED inside the operator (it can no longer be placed
    correctly, and dropping beats corrupting the open session).  The
    no-watermark default keeps the merge-everything semantics for
    replay/backfill streams where "late" has no meaning.

    State per user = 3 numbers -- constant, unlike a buffer of events."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    wm_enabled = watermark is not None

    def fn(key, pdfs, state):
        if state.exists:
            start_us, last_us, n_ev = state.get
        else:
            start_us = last_us = None
            n_ev = 0
        out_start, out_end, out_n = [], [], []
        # gather the whole trigger's events for this user, then one
        # event-time sort (chunks arrive in arbitrary order)
        all_ts: list = []
        for pdf in pdfs:
            if not pdf.empty:
                # normalize to int64 MICROseconds regardless of the
                # datetime64 resolution pandas hands us
                all_ts.extend(
                    pdf["ts"].astype("datetime64[us]").astype("int64"))
        if wm_enabled:
            # drop events older than the event-time watermark: beyond it
            # correct placement is impossible (the session they belonged
            # to may already be emitted) -- documented bounded-late-data
            # semantics instead of silently joining the current session
            wm_us = state.getCurrentWatermarkMs() * 1000
            all_ts = [t for t in all_ts if t >= wm_us]
        all_ts.sort()
        for t in all_ts:
            if last_us is None:
                start_us = t
                last_us = t
            elif t - last_us > gap_us:
                out_start.append(start_us)
                out_end.append(last_us)
                out_n.append(n_ev)
                start_us = t
                last_us = t
                n_ev = 0
            else:
                # cross-trigger straggler (t <= last_us): merge, never
                # regress last_us or let start exceed it
                if t < start_us:
                    start_us = t
                if t > last_us:
                    last_us = t
            n_ev += 1
        state.update((start_us, last_us, n_ev))
        if out_start:
            yield pd.DataFrame({
                "user_id": key[0],
                "session_start": pd.to_datetime(out_start, unit="us"),
                "session_end": pd.to_datetime(out_end, unit="us"),
                "n_events": out_n,
            })

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=("user_id long, session_start timestamp, "
                          "session_end timestamp, n_events int"),
        stateStructType="start_us long, last_us long, n_ev int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup(pages: DataFrame, key_col: str = "url",
                 n_groups: int = 64, m_bits: int = 1 << 23,
                 out_cols: str = ("url string, warc_ts timestamp, "
                                  "html binary")) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): emit
    each row whose `key_col` value is seen for the FIRST time across the
    life of the stream.  key_col="url" is crawl-frontier dedup (CC
    re-crawls the same urls continuously -- first-seen dedup upstream of
    the parse stage is the single biggest compute saver in a continuous
    ingest); pass a content-hash column (e.g. xxhash64(html) as string)
    for exact-content dedup of mirrored pages under different urls.

    State = one CONSTANT-SIZE Bloom filter per key-hash group (m_bits
    bits, k=4 hash indices computed JVM-side as xxhash64(key, seed_i)
    columns BEFORE the stateful operator), so state is m_bits/8 bytes per
    group forever -- an exact-set state would grow 8 bytes per unique key
    (8 TB at 10^12 urls).  The trade is a bounded false-drop rate:
    (1-exp(-4n/m))^4 per new key after n uniques in a group (pinned
    against the real operator by tests/test_streaming.py::
    test_stream_dedup_bloom_fpr_matches_formula).

    Sizing rule: m_bits >= 16 x expected uniques PER GROUP keeps the
    false-drop rate at ~0.2% ((1-exp(-1/4))^4); that is 2 bytes of state
    per unique key TOTAL, independent of n_groups.  Pick n_groups so one
    group's filter (m_bits/8 bytes) fits the state store's per-key value
    comfortably: at 10^12 uniques the total is ~2 TB, so n_groups ~= 8192
    gives ~256 MB/group -- state size is set by the unique-key budget,
    and n_groups only controls the granularity it is sharded at.  The
    Python fn does ONLY numpy indexing over the precomputed index
    columns -- no per-row hashing, no per-row Python at all.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pyspark.sql.types import StructType

    n_bytes = m_bits // 8
    idx_cols = [f"_h{i}" for i in range(4)]
    # DDL-parse the output schema for field names: naive comma-splitting
    # breaks on types that contain commas (decimal(10,2), struct<...>)
    out_names = StructType.fromDDL(out_cols).fieldNames()

    def fn(key, pdfs, state):
        if state.exists:
            bloom = np.frombuffer(state.get[0], dtype=np.uint8).copy()
        else:
            bloom = np.zeros(n_bytes, dtype=np.uint8)
        changed = False
        for pdf in pdfs:
            if pdf.empty:
                continue
            idx = pdf[idx_cols].to_numpy(dtype=np.int64)
            byte_i = idx >> 3
            bit_m = np.uint8(1) << (idx & 7).astype(np.uint8)
            seen = ((bloom[byte_i] & bit_m) == bit_m).all(axis=1)
            # also drop repeats within this batch (first occurrence wins)
            first_in_batch = ~pd.Series(pdf[key_col]).duplicated().to_numpy()
            emit = (~seen) & first_in_batch
            if emit.any():
                ei = byte_i[emit].ravel()
                em = bit_m[emit].ravel()
                np.bitwise_or.at(bloom, ei, em)
                changed = True
                yield pdf.loc[emit, out_names]
        if changed:
            state.update((bloom.tobytes(),))

    keyed = pages.withColumn(
        "grp", F.pmod(F.xxhash64(key_col), F.lit(n_groups)).cast("int"))
    for i, c in enumerate(idx_cols):
        keyed = keyed.withColumn(
            c, F.pmod(F.xxhash64(key_col, F.lit(i)), F.lit(m_bits)))
    return keyed.groupBy("grp").applyInPandasWithState(
        fn,
        outputStructType=out_cols,
        stateStructType="bloom binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_frontier(pages: DataFrame, n_groups: int = 64,
                    m_bits: int = 1 << 23,
                    robots: DataFrame | None = None) -> DataFrame:
    """The continuous CRAWL-FRONTIER loop, composed from the existing
    operators: arriving pages -> extract stage emitting ONLY the `links`
    column (no text build, no node table) -> explode to outlinks ->
    resolve relative hrefs against the source host + canonicalize
    (q_url_canonical's column expressions) -> constant-state Bloom
    first-seen dedup.  Output = the stream of never-seen-before
    frontier urls (url, src_url), exactly-once under checkpointing.

    href resolution is full RFC 3986 (resolve_href, urljoin-pinned):
    document-relative paths resolve against the source URL's path with
    ./..// normalization, protocol-relative links adopt the source
    scheme, a <base href> (emitted by the extract stage's own walk --
    the reference's fixture pins a BASE node, test.lisp:5-18) overrides
    the source as resolution base, and non-http(s) schemes (mailto:,
    javascript:, ...) are dropped.

    robots: optional STATIC DataFrame (host string, robots string) of
    robots.txt bodies -- frontier urls disallowed for User-agent * are
    dropped before the dedup (RFC 9309 longest-match, Allow tie-break;
    relational.robots_rules/robots_allowed).  The rules side broadcasts
    into the stream (static-stream join), so politeness adds no state
    and no stream-side shuffle.

    Everything before the stateful dedup is stateless and narrow: the
    extract stage is the same mapInArrow used in batch, resolution +
    canonicalization are pure column expressions, so the operator scales
    with source parallelism; only the Bloom state (m_bits/8 bytes x
    n_groups, forever) persists."""
    from .relational import (
        _canonical_url,
        resolve_href,
        robots_allowed,
        robots_rules,
    )

    ext = extract_pages(pages, id_cols=("url",), columns=("links", "base"))
    out = (ext.select(F.col("url").alias("src_url"), "base",
                      F.explode("links").alias("href"))
           .withColumn("abs", resolve_href(
               F.col("src_url"), F.col("href"), base=F.col("base")))
           .filter(F.col("abs").isNotNull())
           .select(_canonical_url(F.col("abs")).alias("url"), "src_url"))
    if robots is not None:
        out = out.withColumn(
            "host", F.regexp_extract("url", r"^https?://([^/]+)", 1)) \
            .withColumn(
            "path", F.coalesce(
                F.nullif(F.regexp_extract("url", r"^https?://[^/]+(/.*)$",
                                          1), F.lit("")), F.lit("/")))
        out = (robots_allowed(out, robots_rules(robots))
               .filter(F.col("allowed"))
               .select("url", "src_url"))
    return stream_dedup(out, key_col="url", n_groups=n_groups,
                        m_bits=m_bits, out_cols="url string, src_url string")


def stream_cardinality(df: DataFrame, key_col: str = "url",
                       p: int = 10, n_groups: int = 8) -> DataFrame:
    """Streaming distinct-count sketch (HyperLogLog registers as
    applyInPandasWithState state): "how many distinct urls has this
    crawl seen, ever" over an unbounded stream in 2^p bytes of TOTAL
    state -- the streaming twin of relational.q_vocab_hll, using the
    IDENTICAL md5-derived register/rho convention, so the stream's
    merged register file is bit-equal to a batch recompute over the
    union of everything ingested (asserted in tests/test_streaming.py).

    Register/rho are JVM-side column math (no per-row Python); each
    state group owns the register slice {reg : reg % n_groups == grp}
    as a dense uint8 array (2^p / n_groups bytes, max rho 33 fits a
    byte), merged per batch with numpy scatter-max -- HLL merge IS max,
    which also makes restarts/retries idempotent by construction.  Each
    batch emits one (grp, n_present, sum_inv) row per group; combine
    the LATEST row per group with hll_estimate() for the corpus-wide
    estimate.  State never grows: 1 KB total at p=10 whether the
    stream has seen 10^3 or 10^12 keys."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    m = 1 << p
    if m % n_groups:
        raise ValueError("n_groups must divide 2^p")
    n_local = m // n_groups

    md5 = F.md5(F.col(key_col).cast("string"))
    h_hi = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    h_lo = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
    reg = h_lo % m
    rho = F.when(h_hi == F.lit(0), F.lit(33)) \
        .otherwise(33 - F.length(F.bin(h_hi)))
    keyed = df.select(reg.alias("reg"), rho.cast("int").alias("rho"),
                      (reg % n_groups).cast("int").alias("grp"))

    def fn(key, pdfs, state):
        if state.exists:
            regs = np.frombuffer(state.get[0], dtype=np.uint8).copy()
        else:
            regs = np.zeros(n_local, dtype=np.uint8)
        changed = False
        for pdf in pdfs:
            if pdf.empty:
                continue
            li = pdf["reg"].to_numpy(dtype=np.int64) // n_groups
            rh = pdf["rho"].to_numpy(dtype=np.int64).astype(np.uint8)
            np.maximum.at(regs, li, rh)
            changed = True
        if changed:
            state.update((regs.tobytes(),))
        present = regs > 0
        sum_inv = float(
            np.power(2.0, -regs[present].astype(np.float64)).sum()
            + (n_local - int(present.sum())))
        yield pd.DataFrame({"grp": [int(key[0])],
                            "n_present": [int(present.sum())],
                            "sum_inv": [sum_inv]})

    return keyed.groupBy("grp").applyInPandasWithState(
        fn,
        outputStructType="grp int, n_present int, sum_inv double",
        stateStructType="regs binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hll_estimate(group_rows, p: int = 10,
                 n_groups: int | None = None) -> float:
    """Combine stream_cardinality's per-group rows (the LATEST row per
    grp) into the corpus-wide HLL estimate -- the same estimator (raw +
    linear-counting branch) as relational.q_vocab_hll.

    A group that never received a key emits no row, so its all-zero
    register slice (2^-0 = 1 per register) would silently drop out of
    sum_inv and inflate the estimate; pass n_groups (the value given to
    stream_cardinality) to credit absent groups their zero registers."""
    import math
    m = 1 << p
    sum_inv = sum(r["sum_inv"] for r in group_rows)
    n_present = sum(r["n_present"] for r in group_rows)
    if n_groups is not None and len(group_rows) < n_groups:
        if m % n_groups:
            raise ValueError("n_groups must divide 2^p")
        sum_inv += (n_groups - len(group_rows)) * (m // n_groups)
    if sum_inv <= 0.0:
        # no rows and no n_groups correction: an empty sketch
        return 0.0
    zeros = m - n_present
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m / sum_inv
    if raw <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return raw
